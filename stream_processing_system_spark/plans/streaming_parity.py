"""Streaming queries exposed through the driver contract.

Each wrapper reads its catalog table as a stream straight from the
catalog parquet (`load_table(..., streaming=True)`), runs the
*streaming* plan through the one drain path (`jobs.drain`:
trigger(availableNow=True), then the drained rows as a batch
DataFrame), and applies any batch tail. A wrapper re-lays its input
as a scratch drop directory only where the drop's format or file
layout is what it tests: the reddit CSV and `crane_spout` text
ingest paths, and the multi-file `maxFilesPerTrigger` drops of the
upsert, KMV and soak twins. Registering these with the SAME DuckDB
oracle as their batch twin turns the batch==streaming parity
property (FIXTURES.md §3) into a driver-checked differential test,
not just a unit test."""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processing_system_spark.sources.tables import load_table
from stream_processing_system_spark.streaming import jobs


def _cents(col: str = "value") -> Column:
    """A double as integer hundredths (half-up): sums of these are
    exact and independent of micro-batch and partition order."""
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")


def stream_wordcount_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q1_wordcount, but executed as a Structured Streaming job over
    the documents table streamed from the catalog. Same oracle as
    q1_wordcount."""
    from stream_processing_system_spark.plans.reference import wordcount

    docs = load_table(spark, sf_dir, "documents", streaming=True)
    return jobs.drain(wordcount(docs.select(F.col("text").alias("line"))))


def stream_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as a streaming job: the documents stream feeds the
    digest groupBy + min-id keeper incrementally (state = one row per
    distinct digest). Same oracle as batch dedup_exact — a third
    batch==streaming differential check. At scale this is the
    incremental-ingest dedup shape: new files drop in, only new
    digests extend the state store, and `update` mode emits just the
    changed keepers per batch."""
    from stream_processing_system_spark.operators.dedup import normalized_text

    stream = load_table(spark, sf_dir, "documents", streaming=True)
    keepers = (
        stream.select(F.md5(normalized_text(F.col("text"))).alias("_digest"), "doc_id")
        .groupBy("_digest")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return jobs.drain(keepers)


def stream_dedup_watermark_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup: `dropDuplicatesWithinWatermark`
    holds a digest in the state store only while it is inside the
    watermark horizon, then retires it — the unbounded-key-universe
    answer to `stream_dedup_exact_docs`, whose one-row-per-distinct-
    digest state grows forever. At 100 TB/day the full digest set
    never fits in state, but a horizon's worth does, and near-dup
    ingest bursts (re-crawls, retries) land inside the horizon.

    Static parity: every replayed row carries the same event time, so
    one horizon covers the entire drop and the drained result equals
    global DISTINCT digests — the exact batch oracle. The emitted row
    per digest is whichever arrived first, so only the digest column
    (deterministic) is returned."""
    from stream_processing_system_spark.operators.dedup import normalized_text

    stream = load_table(spark, sf_dir, "documents", streaming=True)
    deduped = (
        stream.select(
            F.md5(normalized_text(F.col("text"))).alias("digest"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("_ts"),
        )
        .withWatermark("_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["digest"])
        .select("digest")
    )
    return jobs.drain(deduped, "append").orderBy("digest")


def _window_sums(
    spark: SparkSession, sf_dir: str, out: str, duration: str, slide: str | None = None
) -> DataFrame:
    """Event-time (tumbling or hopping) window count + rounded value
    sum, watermarked by the window length, drained in complete mode:
    the drain must emit every window including the last open one;
    the watermark is what bounds state when the same plan runs on an
    unbounded stream."""
    window = F.window("ts", duration, slide) if slide else F.window("ts", duration)
    result = (
        load_table(spark, sf_dir, "events", streaming=True)
        .withWatermark("ts", duration)
        .groupBy(window.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").cast("long").alias(out), "n", "sum_value")
    )
    return jobs.drain(result).orderBy(out)


def stream_events_per_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window with a watermark, drained
    with availableNow — the streaming twin of events_per_hour (same
    oracle)."""
    return _window_sums(spark, sf_dir, "hour_start", "1 hour")


def stream_running_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (applyInPandasWithState running
    count per document text, §2.11 stateful-bolt surface) drained
    over the documents stream. Running counts are monotone, so
    max(cnt) per key after the drain is the converged total — checked
    against a plain GROUP BY oracle, which makes the custom-state
    path value-hash verifiable, not just smoke-tested."""
    docs = load_table(spark, sf_dir, "documents", streaming=True)
    keys = docs.select(F.col("text").alias("key"))
    tbl = jobs.drain(jobs.running_counts(keys), "update")
    return tbl.groupBy("key").agg(F.max("cnt").alias("cnt"))


def stream_user_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-state parity: per-user running
    (n_events, sum value) maintained in custom streaming state
    (transformWithState where the runtime has the TWS runner's
    protobuf dependency, applyInPandasWithState otherwise — see
    jobs.stream_user_stats) over the events stream. Values are
    quantized to integer micro-units JVM-SIDE before the Python stage
    (order-independent integer sums
    through arbitrary micro-batching), and the drained `update`
    output rolls up with max per key (totals are monotone). Checked
    against a plain GROUP BY oracle — the arbitrary-state path is
    value-hash verified, same standard as every built-in operator."""
    stream = load_table(spark, sf_dir, "events", streaming=True).select(
        "user_id",
        F.coalesce(
            F.floor(F.col("value") * 10000 + 0.5).cast("long"), F.lit(0)
        ).alias("value_u"),
    )
    drained = jobs.stream_user_stats(spark, stream)
    return (
        drained.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("sum_u").alias("_s"))
        .select(
            "user_id",
            "n_events",
            (F.col("_s") / F.lit(10000.0)).alias("sum_value"),
        )
        .orderBy("user_id")
    )


def stream_enriched_revenue_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the purchase stream joins the
    STATIC customer and nation dimensions (broadcast into every
    micro-batch — no state, no watermark needed for the join itself)
    and aggregates revenue per nation. This is the canonical
    fact-stream × dimension-table shape; at scale the dimensions
    broadcast once per executor and the only stateful operator is the
    25-key aggregate. Revenue sums integer micro-units, so the total
    is independent of micro-batch boundaries and partition order."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    result = (
        load_table(spark, sf_dir, "events", streaming=True)
        .where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .join(F.broadcast(cust), "user_id")
        .join(F.broadcast(nation), "c_nationkey")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long")).alias("_s"),
        )
        .select(
            "n_name", "n_purchases", (F.col("_s") / F.lit(10000.0)).alias("revenue")
        )
    )
    return jobs.drain(result).orderBy("n_name")


def stream_reddit_top_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q2_top_users as a streaming job through the REAL reference
    ingest path: events re-laid as the reference's headerless 13-col
    reddit CSV (`spout/spout.go:279-286`; col 10 = score, col 12 =
    username), then jobs.stream_reddit_top_users runs the lenient-int
    filter + stateful count. Same oracle as q2_top_users — completes
    streaming parity coverage of all three reference apps
    (`Nimbus.go:628-648`). The job ranks usernames as strings, so the
    wrapper re-ranks numerically after the cast back to long (string
    order '10'<'2' would pick a different tie-break at the top-k
    boundary). The CSV drop is staged: the CSV format IS the ingest
    path under test."""
    # null scores: batch `value >= 0` drops them, but an empty CSV cell
    # parses leniently to 0 and would be kept — filter before re-laying
    events = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "value")
        .where(F.col("value").isNotNull())
    )
    cells = [F.lit(f"c{i}") for i in range(13)]
    # floor, not cast-truncate: value in (-1,0) must still parse as a
    # NEGATIVE score so the job's lenient-int >= 0 filter matches the
    # batch predicate `value >= 0` exactly
    cells[10] = F.floor(F.col("value")).cast("long").cast("string")
    cells[12] = F.col("user_id").cast("string")
    with jobs.scratch_dir("rd") as input_dir:
        events.select(F.concat_ws(",", *cells).alias("value")).write.mode(
            "overwrite"
        ).text(input_dir)
        # k > distinct users at every SF (so nothing is cut before the
        # numeric re-rank) but small enough that the job's top-k priority
        # queue stays O(k) memory
        drained = jobs.stream_reddit_top_users(spark, input_dir, k=1_000_000)
    return (
        drained.select(
            F.col("username").cast("long").alias("user_id"), F.col("posts")
        )
        .orderBy(F.col("posts").desc(), F.col("user_id").asc())
        .limit(50)
    )


def stream_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sessionize_events as a streaming job: the 30-minute-gap
    sessions come from `session_window()` + watermark
    (jobs.stream_session_windows) instead of the batch lag+cumsum
    pattern, drained with availableNow and rolled up to the same
    (user_id, n_sessions, avg_events_per_session) shape — SAME oracle
    as the batch query, so the two formulations' session semantics
    are proven equivalent on static input. (Boundary note: an
    exactly-30:00 silence closes a session_window but not the batch
    lag>gap test; nanosecond event times make an exact tie
    measure-zero, and the hash-match would catch one.)"""
    from stream_processing_system_spark.functions.scalar import det_round

    stream = load_table(spark, sf_dir, "events", streaming=True)
    per_session = jobs.stream_session_windows(
        spark, stream.select("ts", "user_id"), gap="30 minutes", watermark="1 hour"
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            det_round(F.avg("n_events")).alias("avg_events_per_session"),
        )
        .orderBy("user_id")
    )


def stream_session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_entry_exit as a streaming job: session_window +
    min_by/max_by over (ts, event_id) (jobs.stream_session_endpoints)
    instead of the batch full-frame first/last window, rolled up to
    the same (entry_type, exit_type, n_sessions) matrix — SAME oracle
    as the batch query, proving the two session formulations AND the
    two endpoint extractions equivalent on static input."""
    stream = load_table(spark, sf_dir, "events", streaming=True).select(
        "ts", "user_id", "event_type", "event_id"
    )
    per = jobs.stream_session_endpoints(
        spark, stream, gap="30 minutes", watermark="1 hour"
    )
    return (
        per.groupBy("entry_type", "exit_type")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy("entry_type", "exit_type")
    )


def stream_host_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q3_host_report as a streaming job: the events stream feeds the
    same grouped count + sorted collect_set plan incrementally
    (streaming collect_set state). Same oracle as q3_host_report — a
    second batch==streaming differential check, this one over a
    stateful multi-aggregate."""
    from stream_processing_system_spark.plans.reference import host_report

    events = load_table(spark, sf_dir, "events", streaming=True)
    kept = events.where(F.col("event_type") == "click")
    route = F.concat(F.col("user_id").cast("string"), F.lit(":"), F.col("props"))
    return jobs.drain(
        host_report(kept.withColumn("route", route), "user_id", F.col("route"))
    )


def _purchases_and_clicks(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Two streams over the events table: purchases and clicks, each
    (user_id, ts)."""

    def side(kind: str) -> DataFrame:
        events = load_table(spark, sf_dir, "events", streaming=True)
        return events.where(F.col("event_type") == kind).select("user_id", "ts")

    return side("purchase"), side("click")


def _pairs_by_purchase(joined: DataFrame) -> DataFrame:
    return joined.select(
        F.col("l_key").alias("user_id"),
        F.col("l_ts").cast("long").alias("purchase_ts_s"),
        F.col("r_ts").cast("long").alias("click_ts_s"),
    ).orderBy("user_id", "purchase_ts_s", "click_ts_s")


def stream_purchase_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (jobs.stream_stream_join) as a
    driver-checked query: purchases and clicks arrive as two separate
    streams, watermarked, joined on user_id with clicks
    within 1 hour AFTER the purchase. The oracle is the equivalent
    batch interval join — proving the streaming join's event-time
    bounds against plain SQL. Output one row per (purchase, click)
    pair with epoch-second timestamps."""
    purchases, clicks = _purchases_and_clicks(spark, sf_dir)
    return _pairs_by_purchase(
        jobs.stream_stream_join(spark, purchases, clicks, within="1 hour")
    )


def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_sliding_window as a streaming job: hopping 2h/1h windows
    with a watermark, drained with availableNow — same oracle as the
    batch query, proving the hopping-window semantics match."""
    return _window_sums(spark, sf_dir, "window_start", "2 hours", "1 hour")


def stream_heavy_hitters_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters with the SKETCH maintained by a
    streaming aggregation: the depth×width cell counters are the
    streaming state (groupBy (row, bucket) in complete mode, drained
    with availableNow), and the top-k probe runs as a batch query
    over the drained cell snapshot — the standard sketch serving
    split (the stream maintains the sketch, queries probe a
    snapshot). Cell-wise counts are mergeable, so micro-batched
    maintenance converges to the batch sketch exactly: same oracle as
    events_heavy_hitters."""
    from stream_processing_system_spark.functions.scalar import md5_prefix_long

    depth, width, k = 4, 256, 20

    def bucket(j, key):
        return F.pmod(md5_prefix_long(F.concat(F.lit(f"{j}|"), key)), F.lit(width))

    def cells(key: Column) -> Column:
        return F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), bucket(j, key).alias("b"))
                    for j in range(depth)
                ]
            )
        )

    counters = (
        load_table(spark, sf_dir, "events", streaming=True)
        .select(cells(F.col("user_id").cast("string")).alias("c"))
        .groupBy("c.j", "c.b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cell_tbl = jobs.drain(counters)
    probes = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select("user_id", cells(F.col("user_id").cast("string")).alias("p"))
        .select("user_id", "p.j", "p.b")
    )
    return (
        probes.join(F.broadcast(cell_tbl), ["j", "b"], "left")
        .groupBy("user_id")
        .agg(F.min(F.coalesce("n", F.lit(0))).cast("long").alias("est"))
        .orderBy(F.col("est").desc(), F.col("user_id").asc())
        .limit(k)
    )


def stream_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars computed as an availableNow stream over the
    events stream — the streaming twin of
    `analytics.events_ohlc_daily` (same oracle).

    Open/close use `min_by`/`max_by` keyed on the (ts, event_id)
    STRUCT: lexicographic struct order with the unique event id makes
    the picked tick total-ordered, so the streaming aggregation is
    deterministic under any micro-batch interleaving — the property
    that lets the batch window/row_number formulation and this
    incremental formulation hash-match the same SQL. Complete mode
    because the drain must emit every day's bar; on an unbounded
    stream the same plan runs in update mode with a watermark on ts.
    """
    key = F.struct(F.col("ts"), F.col("event_id"))
    result = (
        load_table(spark, sf_dir, "events", streaming=True)
        .where(F.col("value").isNotNull())
        .withColumn("day", F.col("ts").cast("date").cast("string"))
        .groupBy("event_type", "day")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )
    return jobs.drain(result).orderBy("event_type", "day")


def stream_purchase_click_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER watermarked stream-stream join as a driver-checked
    query: every purchase pairs with its within-1-hour clicks, and
    purchases with NO qualifying click surface once with a NULL click
    timestamp. ALL purchases are fed (cutting the input would lower
    the left source's own max event time and drag the global
    watermark — the MIN across sources — back with it); the OUTPUT
    is then restricted to purchases whose match window provably
    closed before the final watermark (ts ≤ max_ts − 4 h: 1 h window
    + 2 h watermark + 1 h margin), because Spark never emits
    null-extended rows whose window is still open when a finite
    stream ends. The oracle is the equivalent batch LEFT JOIN under
    the same cutoff — proving both the match bounds AND the
    null-emission contract against plain SQL."""
    # The global watermark is the MIN across sources of (max event
    # time - delay): the cutoff must key off the EARLIER-ending
    # stream, or purchases after the click stream's horizon keep
    # their join state open forever and never emit their nulls.
    cutoff = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .agg((F.min("m") - F.expr("interval 4 hours")).alias("c"))
        .collect()[0]["c"]
    )
    purchases, clicks = _purchases_and_clicks(spark, sf_dir)
    joined = jobs.stream_stream_join_outer(spark, purchases, clicks, within="1 hour")
    return _pairs_by_purchase(joined.where(F.col("l_ts") <= F.lit(cutoff)))


def stream_upsert_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user totals maintained by the foreachBatch IVM upsert sink
    (jobs.stream_upsert_totals): events re-laid as MULTIPLE parquet
    files, drained one file per micro-batch so the additive serving
    merge really runs several times, then the final serving table is
    checked against the plain GROUP BY oracle (same oracle as
    stream_user_stats — two different stateful mechanisms, one
    truth). The multi-file drop is staged: its file layout is what
    makes the drain multi-batch."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.coalesce(
            F.floor(F.col("value") * 10000 + 0.5).cast("long"), F.lit(0)
        ).alias("value_u"),
    )
    with jobs.scratch_dir("ups") as base:
        input_dir = os.path.join(base, "in")
        events.repartition(4).write.mode("overwrite").parquet(input_dir)
        serving = jobs.stream_upsert_totals(
            spark, input_dir, None, os.path.join(base, "state")
        )
        return (
            serving.select(
                "user_id",
                "n_events",
                (F.col("sum_u") / F.lit(10000.0)).alias("sum_value"),
            )
            .orderBy("user_id")
            .localCheckpoint()  # materialize before the scratch dir is removed
        )


def stream_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distinct-user ESTIMATES from a KMV sketch maintained
    incrementally by the streaming foreachBatch merge
    (jobs.stream_kmv_sketches) over a staged multi-file events drop.
    KMV merge associativity makes the final sketch identical to the
    batch-built one, so the estimates hash-match the batch oracle —
    sketch algebra, streaming upsert, and exactly-once replay
    guarded, all checked by one SQL string."""
    from stream_processing_system_spark.operators.sketch_kmv import kmv_estimates

    events = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"), F.col("user_id").alias("member")
    )
    with jobs.scratch_dir("kmv") as base:
        input_dir = os.path.join(base, "in")
        events.repartition(4).write.mode("overwrite").parquet(input_dir)
        sketch = jobs.stream_kmv_sketches(
            spark, input_dir, None, os.path.join(base, "state"), k=256
        )
        return (
            kmv_estimates(sketch, "g", k=256)
            .select(F.col("g").alias("event_type"), "est_distinct")
            .orderBy("event_type")
            .localCheckpoint()
        )


#: State-operator metrics from the most recent stream_soak_lineitem_state
#: run: {"numRowsTotal": ..., "provider": ...}. Read by
#: tests/test_streaming_soak.py to assert the >=1e6-key state volume.
last_soak_state_metrics: dict = {}


def stream_soak_lineitem_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-state streaming soak (VERDICT r2 task 8): a stateful
    streaming aggregation whose state store holds TWO rows per
    lineitem — key (replica, l_orderkey, l_linenumber) over a 2x
    replicated parquet drop — so at sf0.1 the RocksDB state store
    carries 1.2M keys (>=10^6, the round-2 ask), not the ~10^2-key
    toy states of the other stream_* parity queries. The provider is
    forced to RocksDB for THIS query even on the driver's vanilla
    session (state store provider is a runtime conf read at query
    start; restored after), so the session.py RocksDB claim is
    exercised under real state volume wherever the query runs.

    Parity oracle: after the drain, the per-key state rows roll up to
    per-returnflag totals — exact-integer cents and row counts that
    must equal 2x the batch lineitem aggregate. A state-store bug
    (lost key, double-counted row, bad merge) breaks the hash.

    The replicated multi-file drop is staged (its 8-file layout is
    part of the soak), and the drained per-key table (1.2M rows at
    sf0.1) goes through a parquet sink, NOT the memory sink — at real
    scale the state drain must never materialize on the driver."""
    global last_soak_state_metrics
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        _cents("l_extendedprice").alias("cents"),
    )
    two = li.withColumn("replica", F.lit(0)).unionByName(
        li.withColumn("replica", F.lit(1))
    )
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    with jobs.scratch_dir("soak") as base:
        input_dir, out_dir = os.path.join(base, "in"), os.path.join(base, "out")
        two.repartition(8).write.mode("overwrite").parquet(input_dir)
        stream = spark.readStream.schema(
            "l_orderkey long, l_linenumber int, l_returnflag string, "
            "cents long, replica int"
        ).parquet(input_dir)
        per_key = stream.groupBy(
            "replica", "l_orderkey", "l_linenumber", "l_returnflag"
        ).agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))

        def _sink(batch_df: DataFrame, _bid: int) -> None:
            # update-mode emissions append executor-side; at real scale
            # this is the upsert-into-serving-store slot (a key may
            # re-emit across batches — MERGE there; one availableNow
            # batch here, so append is exact)
            batch_df.write.mode("append").parquet(out_dir)

        prev = spark.conf.get(provider_key, None)
        spark.conf.set(provider_key, rocksdb)
        try:
            prog = jobs.drain_foreach_batch(per_key, _sink)
        finally:
            if prev is None:
                spark.conf.unset(provider_key)
            else:
                spark.conf.set(provider_key, prev)
        ops = (prog.get("stateOperators") or [{}])[0]
        custom = ops.get("customMetrics") or {}
        last_soak_state_metrics = {
            "numRowsTotal": ops.get("numRowsTotal"),
            "numRowsUpdated": ops.get("numRowsUpdated"),
            "stateMemory": ops.get("memoryUsedBytes"),
            # rocksdb* custom metrics only appear when the RocksDB
            # provider actually backed the store — proof the forced
            # provider took effect, not just that the conf was set
            "rocksdb": any(k.startswith("rocksdb") for k in custom),
        }
        return (
            spark.read.parquet(out_dir)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("n").alias("n_rows"),
                F.sum("cents").alias("total_cents"),
            )
            .orderBy("l_returnflag")
            .localCheckpoint()
        )


def _daily_state(
    spark: SparkSession, sf_dir: str, *aggs: Column, valued: bool = True
) -> DataFrame:
    """Per-(event_type, day) streaming aggregate over the events
    stream (rows with a value only, unless `valued` is False), drained
    and localCheckpointed. Sums of cents and counts are mergeable
    monoids, so any micro-batch interleaving drains to the identical
    snapshot. The day key streams as an ISO STRING so the snapshot
    groups stably; the batch tails sort on it (ISO dates sort
    lexicographically = chronologically). The localCheckpoint also
    lets a tail self-join the snapshot: re-referencing the same
    drained plan yields conflicting attribute ids."""
    events = load_table(spark, sf_dir, "events", streaming=True)
    if valued:
        events = events.where(F.col("value").isNotNull())
    day = F.col("ts").cast("date").cast("string").alias("day")
    state = events.groupBy("event_type", day).agg(*aggs)
    return jobs.drain(state).localCheckpoint(eager=True)


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, cent): per-day value sums in cents."""
    return _daily_state(spark, sf_dir, F.sum(_cents()).alias("cent"))


def stream_sax_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX words with the DAILY-GRAIN STATE maintained by a streaming
    aggregation — the streaming twin of `analytics.events_sax_daily`
    (same oracle). The per-(type, day) (sum of grid-centi values,
    count) pair is a mergeable monoid, so any micro-batch
    interleaving drains to the identical snapshot; the z-normalize /
    discretize / word-assembly tail then runs as a batch query over
    the drained state (the sketch-serving split, as in the CM-sketch
    twin). Complete mode because the drain must emit every day;
    unbounded deployments run the same plan in update mode with a
    watermark on ts."""
    from stream_processing_system_spark.plans.analytics import sax_word_from_daily

    state = _daily_state(
        spark, sf_dir, F.sum(_cents()).alias("s"), F.count(F.lit(1)).alias("nd")
    )
    daily = state.select(
        "event_type",
        "day",
        F.floor(
            (F.col("s") * F.lit(10000)).cast("double")
            / F.col("nd").cast("double")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("dm"),
    )
    return sax_word_from_daily(daily)


def stream_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters forecasts with the daily-totals state maintained
    by an availableNow streaming aggregation — the streaming twin of
    `analytics.events_holt_winters` (same oracle). The sequential
    smoothing recursion runs as the shared batch fold over the
    drained per-(type, day) cent sums (`_daily_state`)."""
    from stream_processing_system_spark.plans.analytics import (
        holt_winters_from_daily,
    )

    return holt_winters_from_daily(_daily_cents(spark, sf_dir))


def stream_kalman_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kalman local-level estimates with the daily-count state
    maintained by an availableNow streaming aggregation — the
    streaming twin of `analytics.events_kalman_level` (same oracle).
    The sequential filter recursion runs as the shared batch fold
    over the drained per-(type, day) counts of ALL events."""
    from stream_processing_system_spark.plans.analytics import kalman_from_daily

    daily = _daily_state(spark, sf_dir, F.count(F.lit(1)).alias("c"), valued=False)
    return kalman_from_daily(daily)


def stream_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown with the daily-totals state maintained by an
    availableNow streaming aggregation — the streaming twin of
    `analytics.events_max_drawdown` (same oracle). The
    peak-segmentation tail runs as the shared batch plan over the
    drained per-(type, day) cent sums."""
    from stream_processing_system_spark.plans.analytics import (
        max_drawdown_from_daily,
    )

    return max_drawdown_from_daily(_daily_cents(spark, sf_dir))


def stream_spout_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q1_wordcount executed through the `crane_spout` custom
    STREAMING DataSource (S7, `Apps/WordCountSpout.go:18-44`):
    documents.text is re-laid as a text drop directory (staged: the
    spout's per-file line reader is the path under test), the spout's
    offset-tracked SimpleDataSourceStreamReader tails it (offset =
    files consumed, replay-safe), and the drained availableNow run
    feeds the same wordcount plan. (Spark's Python microbatch stream
    wrapper downgrades availableNow to single-batch execution — all
    input is present before start, so the drain is still complete;
    incremental multi-batch tailing is exercised by
    tests/test_store_skew_spout.py.) Sharing q1's DuckDB oracle turns
    the pluggable-source contract — schema, per-file NextTuple loop,
    offset bookkeeping — into a driver-checked differential test
    instead of a pytest-only one."""
    from stream_processing_system_spark.plans.reference import wordcount
    from stream_processing_system_spark.sources import spout_source

    spout_source.register(spark)
    docs = load_table(spark, sf_dir, "documents").select(F.col("text"))
    with jobs.scratch_dir("spoutwc") as input_dir:
        docs.write.mode("overwrite").text(input_dir)
        lines = (
            spark.readStream.format("crane_spout")
            .option("path", input_dir)
            .load()
            .select(F.col("line"))
        )
        return jobs.drain(wordcount(lines)).select("word", "cnt")


def stream_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley drift detection with the daily-totals state
    maintained by an availableNow streaming aggregation — the
    streaming twin of `analytics.events_page_hinkley` (same oracle).
    The per-(type, day) cent sums are exactly the `_daily_whole_units`
    grid; the running-mean/cumsum/running-min PH tail runs as the
    shared batch plan over the drained state (the tail only orders by
    the ISO-string day)."""
    from stream_processing_system_spark.plans.analytics import (
        page_hinkley_from_daily,
    )

    daily = _daily_cents(spark, sf_dir).select(
        "event_type", "day", F.expr("cent div 100").alias("x")
    )
    return page_hinkley_from_daily(daily)


def stream_ar2_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) Yule–Walker fit with the daily-totals state maintained
    by an availableNow streaming aggregation — the streaming twin of
    `analytics.events_ar2_yule_walker` (same oracle). The lead-window
    autocovariance tail runs as the shared batch plan over the
    drained per-(type, day) cent sums (ISO-string days order
    chronologically, and max_by(x, day) picks the same last
    observations)."""
    from stream_processing_system_spark.plans.analytics import (
        ar2_yule_walker_from_daily,
    )

    daily = _daily_cents(spark, sf_dir).select(
        "event_type", "day", F.expr("cent div 100").alias("x")
    )
    return ar2_yule_walker_from_daily(daily)


def _half_split_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (event_type, cent-value) cells with their first-half (ca)
    and second-half (cb) counts, maintained by an availableNow
    streaming aggregation, drained and localCheckpointed. The
    per-cell counts are a mergeable monoid, so the streaming state IS
    the bounded cent-domain cell frame that the drift family's batch
    tails (KS / CvM / AD / Cliff's δ / Mood's median) read."""
    # ts IS NOT NULL mirrors the batch plan and the oracle exactly:
    # without it, SUM's NULL-skip of the half indicator would drop
    # NULL-ts rows the oracle's CASE WHEN counts into ca (ADVICE r7)
    half = (F.col("ts") >= F.lit("2024-01-16")).cast("int")
    state = (
        load_table(spark, sf_dir, "events", streaming=True)
        .where(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select("event_type", _cents().alias("v"), half.alias("h"))
        .groupBy("event_type", "v")
        .agg(
            F.sum(F.lit(1) - F.col("h")).alias("ca"),
            F.sum("h").alias("cb"),
        )
    )
    return jobs.drain(state).localCheckpoint(eager=True)


def stream_cvm_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises drift test over the streamed
    half-split cells (`_half_split_cells`) — the streaming twin of
    `analytics.events_cvm_drift` (same oracle); the cumulative-ECDF
    gap² tail runs as the shared batch plan over the drained state."""
    from stream_processing_system_spark.plans.analytics import cvm_from_cells

    return cvm_from_cells(_half_split_cells(spark, sf_dir), query="stream_cvm_drift")


def stream_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test over the streamed
    half-split cells — the streaming twin of `analytics.events_ks_test`
    (same oracle); the max-ECDF-gap tail runs as the shared batch plan
    over the drained state."""
    from stream_processing_system_spark.plans.analytics import ks_from_cells

    return ks_from_cells(_half_split_cells(spark, sf_dir))


def stream_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-weighted two-sample drift over the streamed half-split
    cells — the streaming twin of `analytics.events_anderson_darling`
    (same oracle). With this the ENTIRE two-sample drift family
    (KS / CvM / AD) runs in both runtimes over one shared mergeable
    cell-monoid state."""
    from stream_processing_system_spark.plans.analytics import ad_from_cells

    return ad_from_cells(_half_split_cells(spark, sf_dir))


def stream_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's-delta effect size over the streamed half-split cells —
    the streaming twin of `analytics.events_cliffs_delta` (same
    oracle). The three alarm statistics (KS / CvM / AD) and the
    EFFECT SIZE a monitor reads after the alarm all run over the SAME
    mergeable cell-monoid state — one state store, many readouts,
    which is how a production monitor would deploy them."""
    from stream_processing_system_spark.plans.analytics import cliffs_from_cells

    return cliffs_from_cells(_half_split_cells(spark, sf_dir))


def stream_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test over the streamed half-split cells — the
    streaming twin of `analytics.events_mood_median` (same oracle):
    the fifth statistic tail over the one shared cell state."""
    from stream_processing_system_spark.plans.analytics import mood_from_cells

    return mood_from_cells(_half_split_cells(spark, sf_dir))
