"""The one streaming drain path (`streaming.jobs.drain`) and the
catalog stream reader (`load_table(..., streaming=True)`): state
partitions are capped, never raised; a failed drain cleans up; the
sink leaves nothing registered; the stream has the batch schema and
never modifies the catalog files."""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from stream_processing_system_spark.plans import streaming_parity
from stream_processing_system_spark.sources.tables import TABLES, load_table
from stream_processing_system_spark.streaming import jobs

KEY = "spark.sql.shuffle.partitions"


class _StateShufflePartitions(StreamingQueryListener):
    """numShufflePartitions of every state operator in every progress
    event, per run id."""

    def __init__(self):
        self.parts: dict[str, set[int]] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, e):
        pass

    def onQueryProgress(self, e):
        p = e.progress
        ops = {op.numShufflePartitions for op in p.stateOperators}
        self.parts.setdefault(str(p.runId), set()).update(ops)

    def onQueryIdle(self, e):
        pass

    def onQueryTerminated(self, e):
        self.terminated.add(str(e.runId))

    def drained(self, fn, spark, sf_dir) -> set[int]:
        """State partitions used by the drain inside `fn`."""
        seen = set(self.terminated)
        fn(spark, sf_dir).collect()
        deadline = time.time() + 30
        while self.terminated == seen and time.time() < deadline:
            time.sleep(0.05)
        (run,) = self.terminated - seen
        return self.parts[run]


def test_drain_caps_state_partitions_at_session_value(spark, sf_dir):
    listener = _StateShufflePartitions()
    spark.streams.addListener(listener)
    prev = spark.conf.get(KEY)
    spark.conf.set(KEY, "4")
    try:
        parts = listener.drained(
            streaming_parity.stream_wordcount_docs, spark, sf_dir
        )
        assert parts and max(parts) <= 4, parts
        assert spark.conf.get(KEY) == "4"  # never raised, left as it was
        spark.conf.set(KEY, "32")
        parts = listener.drained(
            streaming_parity.stream_host_report_events, spark, sf_dir
        )
        assert parts == {jobs.MAX_STATE_PARTITIONS}
        assert spark.conf.get(KEY) == "32"  # restored after the drain
    finally:
        spark.conf.set(KEY, prev)
        spark.streams.removeListener(listener)


def test_failed_drain_leaves_no_scratch_stream_or_view(
    spark, sf_dir, monkeypatch, tmp_path
):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    @F.udf("long")
    def boom(x):
        raise ValueError("poisoned micro-batch")

    tables_before = {t.name for t in spark.catalog.listTables()}
    prev = spark.conf.get(KEY)
    stream = load_table(spark, sf_dir, "events", streaming=True)
    result = stream.groupBy(boom("user_id").alias("k")).count()
    with pytest.raises(Exception, match="poisoned micro-batch"):
        jobs.drain(result, name="poisoned_drain")
    assert glob.glob(os.path.join(str(tmp_path), "spark_graft_*")) == []
    assert spark.streams.active == []
    assert {t.name for t in spark.catalog.listTables()} == tables_before
    assert spark.conf.get(KEY) == prev


def test_failed_staged_twin_removes_its_drop(spark, sf_dir, monkeypatch, tmp_path):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def fail(*args, **kwargs):
        raise RuntimeError("drain failed")

    monkeypatch.setattr(jobs, "stream_reddit_top_users", fail)
    with pytest.raises(RuntimeError, match="drain failed"):
        streaming_parity.stream_reddit_top_users_events(spark, sf_dir)
    assert glob.glob(os.path.join(str(tmp_path), "spark_graft_*")) == []


def test_drain_unregisters_sink_but_keeps_rows(spark, sf_dir):
    tables_before = {t.name for t in spark.catalog.listTables()}
    stream = load_table(spark, sf_dir, "events", streaming=True)
    got = jobs.drain(stream.groupBy("event_type").count(), name="kept_rows")
    assert {t.name for t in spark.catalog.listTables()} == tables_before
    want = load_table(spark, sf_dir, "events").groupBy("event_type").count()
    assert sorted(got.collect()) == sorted(want.collect())


def test_streaming_schema_equals_batch_schema_for_every_table(spark, sf_dir):
    for name in TABLES:
        batch = load_table(spark, sf_dir, name)
        stream = load_table(spark, sf_dir, name, streaming=True)
        assert stream.isStreaming and not batch.isStreaming
        assert stream.schema == batch.schema, name


def test_streamed_nanos_events_convert_ts_like_batch(spark, tmp_path):
    """events stored as TIMESTAMP(NANOS): both readers turn ts into
    the same microsecond timestamp."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = tmp_path / "sf"
    sf.mkdir()
    ns = [1_704_067_200_123_456_789, 1_704_070_800_000_001_000]
    table = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array(ns, pa.timestamp("ns", tz="UTC")),
        "user_id": pa.array([7, 8], pa.int64()),
    })
    pq.write_table(table, str(sf / "events.parquet"), version="2.6")
    batch = load_table(spark, str(sf), "events")
    stream = load_table(spark, str(sf), "events", streaming=True)
    assert dict(batch.dtypes)["ts"] == "timestamp"
    assert stream.schema == batch.schema
    got = jobs.drain(stream, "append").orderBy("event_id").collect()
    want = batch.orderBy("event_id").collect()
    assert got == want
    assert got[0]["ts"] == dt.datetime(2024, 1, 1, 0, 0, 0, 123456)


def test_directory_table_streams_without_glob_filter(spark, tmp_path):
    sf = tmp_path / "sf"
    spark.range(10).select(
        F.col("id").alias("r_regionkey"), F.lit("x").alias("r_name")
    ).repartition(3).write.parquet(str(sf / "region.parquet"))
    stream = load_table(spark, str(sf), "region", streaming=True)
    assert jobs.drain(stream, "append").count() == 10


def _digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_drains_leave_catalog_files_byte_identical(spark, sf_dir, tmp_path):
    sf = str(tmp_path / "catalog")
    shutil.copytree(sf_dir, sf)
    before = _digests(sf)
    for fn in (
        streaming_parity.stream_wordcount_docs,
        streaming_parity.stream_host_report_events,
        streaming_parity.stream_purchase_click_join,
    ):
        fn(spark, sf).collect()
    assert _digests(sf) == before


def test_neighbor_jaccard_int32_ids_do_not_collide(spark):
    """On an int column a shift by 32 wraps to a shift by 0, so the
    packed pair key degenerated to u + v: the candidate (2, 4) met the
    existing edge (1, 5) in the anti join and vanished, and u, v
    unpacked to garbage. Ids are cast to long before packing, and u, v
    are long in both branches."""
    from stream_processing_system_spark.operators.graph import neighbor_jaccard

    # square 1-2-3-4-1 plus pendant 5-1: predicted (1,3), (2,4), (2,5), (4,5)
    rows = [(1, 2), (2, 3), (3, 4), (1, 4), (1, 5)]
    want = None
    for dtype in ("long", "int"):
        edges = spark.createDataFrame(rows, f"src {dtype}, dst {dtype}")
        out = neighbor_jaccard(edges, k=100)
        got = {(r["u"], r["v"]): (r["n_common"], r["n_union"]) for r in out.collect()}
        assert set(got) == {(1, 3), (2, 4), (2, 5), (4, 5)}, (dtype, got)
        assert dict(out.dtypes)["u"] == "bigint" and dict(out.dtypes)["v"] == "bigint"
        if want is None:
            want = got
        assert got == want, dtype
