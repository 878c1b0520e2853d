"""Streaming jobs (SURVEY.md §2.9, §7.2 step 4).

The reference's streaming model is tuple-at-a-time over TCP with an
`END` marker to signal end-of-stream (`spout/spout.go:205-210`,
`bolt/bolt.go:209-215`); the boltl polls until every upstream sent
END, then writes the sink once (`bolt/bolt.go:286-310`). The
idiomatic Spark twin is `trigger(availableNow=True)`: drain all
available input, then stop — identical completion semantics with
checkpointing (exactly-once to idempotent sinks, strictly stronger
than the reference's drop-and-restart at-most-once,
`spout/spout.go:120-150`, `Nimbus.go:280-297`).

Every job here reuses the SAME plan function as its batch twin —
parity between batch and streaming results on static input is a
tested property (FIXTURES.md §3). Every job, and every streaming
twin in plans/streaming_parity.py, runs through one drain path:
`drain` (memory sink, returns the drained rows as a batch
DataFrame and leaves no table registered) or `drain_foreach_batch`
(any batch writer as the sink). Both own the checkpoint, cap the
state partitions and clean up when the drain fails."""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from stream_processing_system_spark.plans.reference import nasalog_report, wordcount
from stream_processing_system_spark.sources.text import (
    read_reddit_csv,
    read_text_lines,
)

#: Upper bound on a drain's state partitions. Every stateful operator
#: opens one state store per shuffle partition per micro-batch; at the
#: state sizes the drains here carry (10^2-10^6 keys) more stores are
#: pure fixed cost (store init + commit + checkpoint fsync). The
#: session's own, smaller value is never raised.
MAX_STATE_PARTITIONS = 8


@contextlib.contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """A fresh `spark_graft_<prefix>_*` directory under the temp dir,
    removed on exit whether the body succeeded or raised."""
    path = tempfile.mkdtemp(prefix=f"spark_graft_{prefix}_")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


@contextlib.contextmanager
def _available_now(
    result: DataFrame,
    output_mode: str,
    checkpoint_dir: str | None,
    name: str | None,
    sink: Callable[[DataStreamWriter], DataStreamWriter],
) -> Iterator[StreamingQuery]:
    """Run `result` with trigger(availableNow=True) (drain all input,
    then stop) into `sink` and yield the terminated query. The state
    partitions are capped for the query's start (the value is frozen
    into the checkpoint) and the session value is restored after. A
    checkpoint the caller does not pass is a scratch directory. The
    query is stopped, the conf restored and the scratch removed also
    when the drain raises."""
    spark = result.sparkSession
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    with contextlib.ExitStack() as stack:
        if int(prev) > MAX_STATE_PARTITIONS:
            spark.conf.set(key, str(MAX_STATE_PARTITIONS))
            stack.callback(spark.conf.set, key, prev)
        if checkpoint_dir is None:
            checkpoint_dir = stack.enter_context(scratch_dir("ckpt"))
        writer = (
            result.writeStream.outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
        )
        if name is not None:
            writer = writer.queryName(name)
        q = sink(writer).start()
        stack.callback(q.stop)
        q.awaitTermination()
        yield q


def drain(
    result: DataFrame,
    output_mode: str = "complete",
    checkpoint_dir: str | None = None,
    name: str | None = None,
) -> DataFrame:
    """The one streaming drain: run `result` to completion
    (availableNow = the END-marker drain) into a memory sink and
    return the drained rows as a batch DataFrame. The sink's temp
    view is dropped once the DataFrame is bound (the DataFrame keeps
    the sink's rows), so nothing stays registered in the catalog.
    For production sinks use `drain_foreach_batch` — the plan is
    unchanged."""
    spark = result.sparkSession
    name = name or f"drain_{uuid.uuid4().hex[:8]}"
    try:
        with _available_now(
            result, output_mode, checkpoint_dir, name, lambda w: w.format("memory")
        ):
            return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def drain_foreach_batch(
    result: DataFrame,
    sink: Callable[[DataFrame, int], None],
    output_mode: str = "update",
    checkpoint_dir: str | None = None,
    name: str | None = None,
) -> dict:
    """`drain` into a foreachBatch sink — the general production sink
    adapter: any batch writer becomes a streaming sink, exactly-once
    on an idempotent write. Returns the query's last progress record."""
    with _available_now(
        result, output_mode, checkpoint_dir, name, lambda w: w.foreachBatch(sink)
    ) as q:
        return q.lastProgress or {}


def stream_wordcount(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str | None = None,
    name: str | None = None,
) -> DataFrame:
    """Q1 as a stream: file-drop directory → same wordcount plan →
    drain-and-stop. State (the word counts) lives in the streaming
    state store — the managed equivalent of the reference's unbounded
    `WordCountMap` + mutex (`bolt/bolt.go:28-34,566-583`)."""
    lines = read_text_lines(spark, input_dir, streaming=True)
    return drain(wordcount(lines), checkpoint_dir=checkpoint_dir, name=name)


def stream_reddit_top_users(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str | None = None,
    k: int = 50,
    name: str | None = None,
) -> DataFrame:
    """Q2 as a stream. Sorting/limit are not allowed in streaming
    aggregations, so the stream maintains the counts (the stateful
    part) and the top-k is applied to the drained result — the same
    split as the reference, where ranking happens once at END
    (`bolt/bolt.go:286-294` poll loop → `:398-419` rank+write)."""
    df = read_reddit_csv(spark, input_dir, streaming=True)
    filtered = df.where(F.coalesce(F.col("score").try_cast("int"), F.lit(0)) >= 0)
    counts = filtered.groupBy("username").agg(F.count(F.lit(1)).alias("posts"))
    drained = drain(counts, checkpoint_dir=checkpoint_dir, name=name)
    return drained.orderBy(F.col("posts").desc(), F.col("username").asc()).limit(k)


def stream_nasalog_report(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str | None = None,
    name: str | None = None,
) -> DataFrame:
    """Q3 as a stream: the full parse → filter → grouped
    count+collect_set plan runs incrementally."""
    lines = read_text_lines(spark, input_dir, streaming=True)
    return drain(nasalog_report(lines), checkpoint_dir=checkpoint_dir, name=name)


def stream_session_windows(
    spark: SparkSession,
    events: DataFrame,
    checkpoint_dir: str | None = None,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    name: str | None = None,
) -> DataFrame:
    """Streaming sessionization with `session_window` + watermark —
    the streaming twin of plans.analytics.sessionize_events. Late
    data beyond the watermark is dropped (the reference has no
    event-time semantics at all, SURVEY.md §2.9 — this is capability
    beyond parity). `events` must be a streaming DataFrame with
    (ts timestamp, user_id)."""
    sessions = (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    return drain(sessions, checkpoint_dir=checkpoint_dir, name=name)


def stream_session_endpoints(
    spark: SparkSession,
    events: DataFrame,
    checkpoint_dir: str | None = None,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    name: str | None = None,
) -> DataFrame:
    """Streaming session entry/exit extraction: `session_window` +
    min_by/max_by over the total (ts, event_id) order — the streaming
    twin of plans.analytics.session_entry_exit's window-frame
    first/last, with the same deterministic same-timestamp
    tie-break. `events` must be a streaming DataFrame with
    (ts, user_id, event_type, event_id)."""
    sessions = (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.min_by("event_type", F.struct("ts", "event_id")).alias(
                "entry_type"
            ),
            F.max_by("event_type", F.struct("ts", "event_id")).alias(
                "exit_type"
            ),
        )
        .select("user_id", "entry_type", "exit_type")
    )
    return drain(sessions, checkpoint_dir=checkpoint_dir, name=name)


def _interval_join(
    left: DataFrame,
    right: DataFrame,
    join_key: str,
    ts_col: str,
    within: str,
    watermark: str,
    how: str,
) -> DataFrame:
    """Both sides watermarked; rows match when keys are equal AND the
    right event lands within `within` after the left event."""
    l = left.withWatermark(ts_col, watermark).select(
        F.col(join_key).alias("l_key"), F.col(ts_col).alias("l_ts")
    )
    r = right.withWatermark(ts_col, watermark).select(
        F.col(join_key).alias("r_key"), F.col(ts_col).alias("r_ts")
    )
    return l.join(
        r,
        F.expr(
            f"l_key = r_key AND r_ts >= l_ts AND r_ts <= l_ts + interval {within}"
        ),
        how,
    )


def stream_stream_join(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    checkpoint_dir: str | None = None,
    join_key: str = "user_id",
    ts_col: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
    name: str | None = None,
) -> DataFrame:
    """Stream-stream inner join with event-time bounds (capability
    beyond the reference, which has no joins at all — SURVEY.md §2.3):
    both sides watermarked, rows match when keys are equal AND the
    right event lands within `within` after the left event. Watermarks
    bound the join state the engine must retain — the difference
    between a streaming join that runs forever and one that OOMs."""
    joined = _interval_join(left, right, join_key, ts_col, within, watermark, "inner")
    return drain(joined, "append", checkpoint_dir, name)


def stream_wordcount_to_files(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    name: str = "wc_file_sink",
) -> None:
    """Q1 streaming with the reference's K1 file sink via
    foreachBatch: each drain rewrites `word:cnt` lines
    (`bolt/bolt.go:296-310` format). foreachBatch is the general
    production sink adapter — any batch writer (parquet, JDBC, the
    K1-K3 formatters) becomes a streaming sink with exactly-once on
    idempotent overwrite."""
    from stream_processing_system_spark.sources.sinks import write_kv_lines

    lines = read_text_lines(spark, input_dir, streaming=True)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        write_kv_lines(batch_df, output_dir, key="word", value="cnt")

    drain_foreach_batch(wordcount(lines), _sink, "complete", checkpoint_dir, name)


def stream_wordcount_to_versioned_store(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    store_root: str,
    name: str = "wc_versions",
    query_name: str = "wc_store_sink",
) -> None:
    """Q1 streaming into the K4 versioned store: each micro-batch's
    converged counts become dataset version epoch_id+1 via
    foreachBatch + `put_idempotent`. Checkpointed epoch ids make the
    sink exactly-once across restarts — a replayed epoch REWRITES its
    own version rather than appending a duplicate one, the
    idempotent-overwrite pattern every production Spark sink uses
    (strictly stronger than the reference's at-most-once
    drop-and-restart, `Nimbus.go:280-297`)."""
    from stream_processing_system_spark.sources.versioned_store import (
        VersionedStore,
    )

    store = VersionedStore(store_root)
    lines = read_text_lines(spark, input_dir, streaming=True)

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        store.put_idempotent(batch_df, name, int(epoch_id) + 1)

    drain_foreach_batch(
        wordcount(lines), _sink, "complete", checkpoint_dir, query_name
    )


# ---------------------------------------------------------------------------
# Custom stateful operator surface (§2.11 stateful bolt contract →
# applyInPandasWithState)
# ---------------------------------------------------------------------------

def _running_count_fn(key, pdf_iter, state: GroupState):
    """Per-key running count; state = the reference's per-key
    `map[string]int` entry (`bolt/bolt.go:28`), but partitioned,
    checkpointed, and lock-free."""
    n = state.get[0] if state.exists else 0
    for pdf in pdf_iter:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"key": [key[0]], "cnt": [n]})


class _UserStatsProcessor(StatefulProcessor):
    """Per-key (n_events, sum of integer micro-units) running stats on
    Spark 4's transformWithState API — typed ValueState instead of
    applyInPandasWithState's single tuple blob. The quantities are
    summed as INTEGERS (the caller quantizes JVM-side before the
    Python stage), so the converged totals are order-independent and
    the whole custom-state path stays value-hash checkable."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._st = handle.getValueState("stats", "n bigint, sum_u bigint")

    def handleInputRows(self, key, rows, timerValues):
        prev = self._st.get() if self._st.exists() else None
        n, sum_u = (int(prev[0]), int(prev[1])) if prev else (0, 0)
        for pdf in rows:
            n += len(pdf)
            sum_u += int(pdf["value_u"].sum())
        self._st.update((n, sum_u))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_u": [sum_u]}
        )

    def close(self) -> None:
        pass


def _user_stats_fn(key, pdf_iter, state: GroupState):
    """applyInPandasWithState twin of _UserStatsProcessor — identical
    integer-summed semantics, tuple-blob state instead of typed
    ValueState."""
    n, sum_u = state.get if state.exists else (0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        sum_u += int(pdf["value_u"].sum())
    state.update((n, sum_u))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_u": [sum_u]})


def _tws_available() -> bool:
    """transformWithState's Python runner speaks protobuf on its state
    channel; without the `protobuf` package the runner crashes at
    init, so the capability is detected up front and the job degrades
    to the 3.x-era API (identical results, different state plumbing)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_user_stats(
    spark: SparkSession,
    events: DataFrame,
    checkpoint_dir: str | None = None,
    name: str | None = None,
) -> DataFrame:
    """Custom stateful operator, preferring transformWithStateInPandas
    (the current-generation arbitrary-state API — typed ValueState,
    timers, TTL) and degrading to applyInPandasWithState where the
    runtime lacks the TWS runner's protobuf dependency. Both paths
    maintain the SAME per-key (n_events, integer-micro-unit sum)
    state and emit converged totals per micro-batch in `update` mode;
    after an availableNow drain the max per key is the final answer
    (totals are monotone). Which path ran is irrelevant to the
    result — both are value-hash checked by the same oracle."""
    if _tws_available():
        out = events.groupBy("user_id").transformWithStateInPandas(
            _UserStatsProcessor(),
            outputStructType="user_id bigint, n_events bigint, sum_u bigint",
            outputMode="Update",
            timeMode="None",
        )
    else:
        out = events.groupBy("user_id").applyInPandasWithState(
            _user_stats_fn,
            outputStructType="user_id bigint, n_events bigint, sum_u bigint",
            stateStructType="n bigint, sum_u bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    return drain(out, "update", checkpoint_dir, name)


def running_counts(keys: DataFrame) -> DataFrame:
    """Exact running count per `key` via applyInPandasWithState, in
    `update` mode: each micro-batch emits the changed keys' totals."""
    return keys.groupBy("key").applyInPandasWithState(
        _running_count_fn,
        outputStructType="key string, cnt long",
        stateStructType="cnt long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_running_counts(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str | None = None,
    name: str | None = None,
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    maintains an exact running count per key over a text-line stream
    (one key per line). Demonstrates the §2.11 'stateful bolt'
    extension point with managed, fault-tolerant state."""
    lines = read_text_lines(spark, input_dir, streaming=True)
    keys = lines.select(F.col("line").alias("key"))
    return drain(running_counts(keys), "update", checkpoint_dir, name)


def stream_stream_join_outer(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    checkpoint_dir: str | None = None,
    join_key: str = "user_id",
    ts_col: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
    name: str | None = None,
) -> DataFrame:
    """LEFT OUTER stream-stream join with event-time bounds: matched
    pairs emit as they meet; an UNMATCHED left row emits with a NULL
    right side only after the watermark passes the end of its match
    window (the engine must prove no future right row can match
    before it commits the null — the hardest streaming-join
    semantic, and the one that requires watermarks to exist at all).

    Spark's documented caveat applies: left rows whose match window
    is still inside the final watermark horizon when a finite stream
    ends never emit their null-extended result. Callers wanting
    deterministic totals must feed left rows whose windows provably
    close (see plans/streaming_parity.stream_purchase_click_outer:
    it cuts the left stream at max_ts − watermark − within − margin).
    """
    joined = _interval_join(
        left, right, join_key, ts_col, within, watermark, "leftOuter"
    )
    return drain(joined, "append", checkpoint_dir, name)


def _serving_sink(
    spark: SparkSession,
    state_dir: str,
    merge: Callable[[DataFrame, DataFrame | None], DataFrame],
) -> tuple[Callable[[DataFrame, int], None], Callable[[], DataFrame]]:
    """A foreachBatch sink that folds each micro-batch into a parquet
    serving table, `merge(batch, base)` (base is None on the first
    epoch), plus a reader for the final table.

    Exactly-once: serving versions are directory-rotated
    (`serving_v{epoch}`) and a marker file records the last committed
    epoch; a replayed micro-batch (at-least-once delivery after a
    checkpoint restore) sees epoch <= committed and becomes a no-op
    instead of merging twice — the transactional-marker idempotence
    idiom, file-system edition."""
    marker = os.path.join(state_dir, "_committed_epoch")

    def _committed() -> int:
        if os.path.exists(marker):
            return int(open(marker).read().strip())
        return -1

    def _serving(epoch: int) -> str:
        return os.path.join(state_dir, f"serving_v{epoch}")

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        last = _committed()
        if epoch_id <= last:
            return  # replayed batch: already merged, skip (idempotence)
        base = spark.read.parquet(_serving(last)) if last >= 0 else None
        merge(batch_df, base).write.mode("overwrite").parquet(_serving(epoch_id))
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(int(epoch_id)))
        os.replace(tmp, marker)  # commit point
        if last >= 0:
            shutil.rmtree(_serving(last), ignore_errors=True)

    return _apply, lambda: spark.read.parquet(_serving(_committed()))


def stream_upsert_totals(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str | None,
    state_dir: str,
    name: str | None = None,
) -> DataFrame:
    """Streaming INCREMENTAL-VIEW-MAINTENANCE sink: each micro-batch
    is aggregated to a per-user delta and additively merged
    (`operators/ivm.merge_additive`) into a parquet serving table via
    foreachBatch — the keyed-upsert pattern every streaming→OLAP
    serving path uses, with the aggregate state living in the SINK
    table instead of the state store (so the stream side carries no
    streaming aggregation at all and restarts are state-free).
    Exactly-once via `_serving_sink`'s epoch marker;
    `bolt/bolt.go:286-310`'s END-marker single write is the
    degenerate one-epoch case of this.

    Returns the final serving table after the availableNow drain.
    """
    from stream_processing_system_spark.operators.ivm import merge_additive

    def _merge(batch_df: DataFrame, base: DataFrame | None) -> DataFrame:
        delta = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"), F.sum("value_u").alias("sum_u")
        )
        if base is None:
            return delta
        return merge_additive(
            base, delta, keys=["user_id"], measures=["n_events", "sum_u"]
        )

    stream = (
        spark.readStream.schema("user_id bigint, value_u bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    sink, serving = _serving_sink(spark, state_dir, _merge)
    drain_foreach_batch(stream, sink, "append", checkpoint_dir, name)
    return serving()


def stream_kmv_sketches(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str | None,
    state_dir: str,
    name: str | None = None,
    k: int = 256,
) -> DataFrame:
    """Streaming DISTINCT-COUNT sketch maintenance: each micro-batch
    builds per-group KMV sketches (operators/sketch_kmv) and MERGES
    them into a parquet serving table via foreachBatch — merge =
    union of hash sets, re-take the k minima. KMV merge is
    associative and idempotent over batch splits (the k smallest of
    the whole stream are each among some batch's k smallest), so the
    final serving sketch is bit-identical to the batch-built sketch
    no matter how the input was micro-batched — which is exactly what
    lets the streaming query share the BATCH oracle.

    Same directory-rotation + committed-epoch replay guard as
    `stream_upsert_totals` (exactly-once on at-least-once replay).
    Returns the final serving sketch frame (group, h, rn)."""
    from pyspark.sql import Window

    from stream_processing_system_spark.operators.sketch_kmv import kmv_sketch

    def _merge(batch_df: DataFrame, base: DataFrame | None) -> DataFrame:
        vals = kmv_sketch(batch_df, "g", "member", k=k).select("g", "h")
        if base is not None:
            vals = base.select("g", "h").unionByName(vals).distinct()
        w = Window.partitionBy("g").orderBy("h")
        return vals.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)

    stream = (
        spark.readStream.schema("g string, member bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    sink, serving = _serving_sink(spark, state_dir, _merge)
    drain_foreach_batch(stream, sink, "append", checkpoint_dir, name)
    return serving()
