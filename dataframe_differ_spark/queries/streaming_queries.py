"""Layer G — streaming semantics over `events` (SURVEY.md §2.G).

Strategy: every windowing construct ships twice.

1. A **batch twin** (`*_tumbling`, `*_sliding`, `*_session`) — the same
   window semantics computed on the batch DataFrame, with a full DuckDB
   oracle (time_bucket / gaps-and-islands formulations).
2. A **true streaming** run (`stream_*`) — ``readStream`` → transformation →
   :func:`~dataframe_differ_spark.streaming.run_available_now`, the one
   stream runner (``availableNow`` trigger, memory sink returned as a
   DataFrame). Rows-only for the driver; tests assert streaming == batch
   twin exactly.

Scale: windowed aggregations shuffle on (window, key); state lives in the
per-partition state store (RocksDB on a real cluster). Watermarks bound
state size — without them a 100 TB stream accumulates state forever.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dataframe_differ_spark.queries import register
from dataframe_differ_spark.scratch import scratch_path
from dataframe_differ_spark.streaming import run_available_now
from dataframe_differ_spark.queries.relational import SQL_DSUM, dsum
from dataframe_differ_spark.tables import load_table

# ---------------------------------------------------------------------------
# Batch twins (full SQL oracles)
# ---------------------------------------------------------------------------


@register(
    "window_tumbling",
    oracle=f"""
SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {SQL_DSUM('value', 'sum_value', '18,6')}
FROM events
GROUP BY 1, 2
""",
)
def q_window_tumbling(spark, sf_dir):
    """G1 twin: 1-hour tumbling window aggregation."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "sum_value", "18,6"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "window_sliding",
    oracle=f"""
SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
         - o.off * INTERVAL '15 minutes' AS window_start,
       COUNT(*) AS n_events,
       {SQL_DSUM('value', 'sum_value', '18,6')}
FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS o(off)
GROUP BY 1
""",
)
def q_window_sliding(spark, sf_dir):
    """G2 twin: 1-hour window sliding every 15 minutes.

    Oracle formulation: an event at time t belongs to exactly 4 windows
    whose starts are floor15(t) − {0,15,30,45} min — the cross-join with
    4 offsets reproduces Spark's window replication exactly.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "sum_value", "18,6"),
        )
        .select(F.col("window.start").alias("window_start"), "n_events", "sum_value")
    )


@register(
    "window_session",
    oracle="""
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
     flagged AS (
       SELECT user_id, ts,
              CASE WHEN ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                   OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
       FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
     islands AS (
       SELECT user_id, ts,
              SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS island
       FROM flagged)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) AS last_event,
       COUNT(*) AS n_events
FROM islands
GROUP BY user_id, island
""",
)
def q_window_session(spark, sf_dir):
    """G3 twin: session windows (30-minute gap) per user.

    Spark computes sessions natively (session_window merges events whose
    gap < 30 min; a gap of exactly 30 min starts a new session — the
    oracle's gaps-and-islands >= matches that edge). One shuffle on
    user_id either way.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("last_event"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "last_event", "n_events")
    )


# ---------------------------------------------------------------------------
# True streaming (rows-only; equality with batch twins asserted in tests)
# ---------------------------------------------------------------------------


def _events_stream(spark, sf_dir):
    """readStream over the events parquet (file-listing source).

    The raw file carries ns timestamps → read as long (nanosAsLong conf,
    set by load_table) and truncated to µs exactly like the batch loader.
    """
    batch = load_table(spark, sf_dir, "events")  # also applies session confs
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    s = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict(s.dtypes).get("ts")
    if ts_type == "bigint":
        # TimestampType (not NTZ): watermarks/event-time require it. The
        # session is pinned to UTC so wall-clock values match the batch twin.
        s = s.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Newer Spark reads parquet TIMESTAMP(NANOS) natively as NTZ
        # (µs-truncated), ignoring the nanosAsLong legacy conf. Event-time
        # operators (withWatermark, session_window state eviction) require
        # TimestampType; NTZ→TIMESTAMP re-interprets the wall clock in the
        # session tz, which is pinned UTC — values identical to the batch twin.
        s = s.withColumn("ts", F.col("ts").cast("timestamp"))
    return s


@register("stream_tumbling")  # rows-only: true streaming execution
def q_stream_tumbling(spark, sf_dir):
    """G1: tumbling-window count over a real readStream (availableNow).

    Identical logical plan to `window_tumbling`, executed by the
    micro-batch engine with windowed state; tests assert result equality
    with the batch twin.
    """
    s = _events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n_events"
        )
    )
    return run_available_now(agg, "tumbling", mode="complete")


@register("stream_watermark")  # rows-only
def q_stream_watermark(spark, sf_dir):
    """G4: watermarked windowed aggregation — late data beyond 10 minutes
    is dropped and state for closed windows is evicted (the mechanism that
    bounds state at 100 TB; with availableNow replay nothing is late, so
    counts equal the unwatermarked run)."""
    s = _events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )
    return run_available_now(agg, "watermark", mode="complete")


@register("stream_dedup")  # rows-only
def q_stream_dedup(spark, sf_dir):
    """G5: streaming deduplication on event_id.

    Duplicates are planted by unioning the stream with itself; stateful
    dropDuplicates keeps first-seen per key (state bounded by the
    watermark). Result must equal the batch distinct count per type.
    """
    s = _events_stream(spark, sf_dir)
    doubled = s.union(s)
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return run_available_now(agg, "dedup", mode="complete")


@register("stream_stateful")  # rows-only
def q_stream_stateful(spark, sf_dir):
    """G6: arbitrary stateful per-user processing (applyInPandasWithState).

    Custom state machine per user_id: running event count + running value
    sum, state carried across micro-batches in the state store, emitted at
    timeout. The escape hatch for operators windows can't express.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    s = _events_stream(spark, sf_dir).select("user_id", "event_id", "value")

    out_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total double"

    def track(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    agg = s.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_available_now(agg, "stateful", mode="update")


@register("stream_sliding")  # rows-only: true streaming execution
def q_stream_sliding(spark, sf_dir):
    """G2: sliding-window aggregation on a real readStream (availableNow);
    each event lands in 4 overlapping windows, streaming state keyed by
    (window, —). Tests compare against the `window_sliding` batch twin."""
    s = _events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )
    return run_available_now(agg, "sliding", mode="complete")


@register("stream_session")  # rows-only: true streaming execution
def q_stream_session(spark, sf_dir):
    """G3: session windows (30-min gap) per user on a real readStream.
    Streaming session_window requires a watermark; with availableNow replay
    nothing is late, so sessions equal the batch twin (asserted in tests)."""
    s = _events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    return run_available_now(agg, "session", mode="complete")


@register("stream_stream_join")  # rows-only: true streaming execution
def q_stream_stream_join(spark, sf_dir):
    """G-family extension: stream-stream inner join with watermarks.

    Purchases joined to the same user's clicks within the preceding hour —
    both sides are unbounded streams, so Spark buffers each side in the
    state store and the time-range condition + watermarks bound how much
    state is retained (without them the join would buffer both streams
    forever at 100 TB). availableNow replay; deterministic output.
    """
    s1 = _events_stream(spark, sf_dir)
    purchases = (
        s1.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    s2 = _events_stream(spark, sf_dir)
    clicks = (
        s2.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select("p_id", "c_id", "p_user")
    return run_available_now(joined, "ssjoin")


@register("stream_sink_parquet")  # rows-only: true streaming execution
def q_stream_sink_parquet(spark, sf_dir):
    """B4/G: streaming parquet sink with checkpointed exactly-once files.

    readStream → filter → parquet sink with a checkpoint; the sink's
    ``_spark_metadata`` commit log makes file output exactly-once across
    restarts (the mechanism a 100 TB pipeline relies on for idempotent
    reruns), and the read-back sees only committed files. The
    query returns an aggregate over the read-back files; equality with the
    batch filter is asserted in tests.
    """
    out = scratch_path("stream_sink")
    s = _events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    back = run_available_now(s, "sinkpq", path=out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_id").alias("n_distinct_events"),
    )


@register("stream_cdc_diff")  # rows-only: composition of streaming + diff core
def q_stream_cdc_diff(spark, sf_dir):
    """Flagship composition: the diff core validating a streaming rewrite.

    The events stream is treated as CDC upserts keyed by user_id; the
    latest state per user (max_by over (ts, event_id)) is computed twice —
    once by the micro-batch streaming engine, once as a batch aggregate —
    and the keyed diff proves them identical (all-'N' summary). This is
    exactly the reference tool's migration-validation use case, applied to
    a batch→streaming port; rows-only for the driver, all-N asserted in
    tests.
    """
    import dataframe_differ_spark.operators.diff_core as D

    last_state = lambda df: df.groupBy("user_id").agg(
        F.expr("max_by(value, struct(ts, event_id))").alias("last_value"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )
    streaming_state = run_available_now(
        last_state(_events_stream(spark, sf_dir)), "cdc", mode="complete"
    )
    batch_state = last_state(
        load_table(spark, sf_dir, "events").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
    )
    return D.diff_summary(batch_state, streaming_state, ["user_id"])


@register("stream_static_join")  # rows-only: true streaming execution
def q_stream_static_join(spark, sf_dir):
    """G-family extension: stream–static join (dimension enrichment).

    The most common production streaming shape: an unbounded event stream
    enriched against a bounded dimension table. The static side here is a
    per-user cohort dimension derived once in batch (each user's first
    active day); the stream joins to it and counts purchases per cohort
    week. Stream–static joins keep NO join state — the static side is
    simply (re)broadcast per micro-batch and only the aggregation holds
    state — so at 100 TB the state store scales with |cohorts|, not with
    the stream. availableNow replay; equality with the batch twin is
    asserted in tests.
    """
    e = load_table(spark, sf_dir, "events")
    cohorts = e.groupBy("user_id").agg(
        F.weekofyear(F.min(F.to_date(F.col("ts").cast("timestamp")))).alias(
            "cohort_week"
        )
    )
    s = _events_stream(spark, sf_dir)
    enriched = (
        s.filter(F.col("event_type") == "purchase")
        .join(cohorts, "user_id")
        .groupBy("cohort_week")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.approx_count_distinct("user_id").alias("approx_buyers"),
        )
    )
    return run_available_now(enriched, "sstatic", mode="complete")


@register("stream_dedup_watermarked")  # rows-only: true streaming execution
def q_stream_dedup_watermarked(spark, sf_dir):
    """G5b: dropDuplicatesWithinWatermark — bounded-state streaming dedup.

    Plain streaming dropDuplicates keeps EVERY key in the state store
    forever unless the key column embeds event time; Spark 3.5's
    dropDuplicatesWithinWatermark instead evicts a key's state once the
    watermark passes its event time — the form that survives an unbounded
    100 TB stream where keys never stop arriving. Duplicates are planted
    by self-union (dup arrives at the SAME event time, well within the
    watermark, so dedup semantics equal exact dedup on this replay);
    output = per-type counts, equal to batch distinct in tests.
    """
    s = _events_stream(spark, sf_dir)
    doubled = s.union(s)
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return run_available_now(agg, "dedupww", mode="complete")
