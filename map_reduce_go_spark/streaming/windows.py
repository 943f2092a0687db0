"""Structured Streaming over the events schema: the event-time layer.

The reference engine is strictly batch (SURVEY.md §2.5 — no streaming
surface exists); this module is the north-star extension. Every
event-time decision is made once, here, and serves batch, stream and
oracle alike:

- each builder accepts a batch or a streaming DataFrame (a DataFrame
  transformation is source-agnostic). ``tumbling_counts``,
  ``sliding_avg_value`` and ``session_counts`` are the bodies of the
  registered ``events_tumbling_window``, ``events_sliding_window`` and
  ``events_session_window`` queries, and ``purchase_click_join`` of
  ``purchase_click_attribution_outer`` — so the DuckDB oracle checks the
  streaming builders through their batch runs, and tests/test_streaming.py
  asserts stream == batch for each (the reference's
  sequential-vs-distributed oracle philosophy);
- ``SESSION_GAP_SEC`` and ``ATTRIBUTION_LOOKBACK_MIN`` are the session
  gap and the attribution interval of every engine plan and oracle that
  uses them;
- ``watermarked`` and ``drop_duplicates`` are the one place a builder
  branches on ``isStreaming``.

Scale notes:
- watermarks bound state: without one, windowed state grows forever on an
  unbounded stream. 10 minutes here; production sets it to the observed
  late-data tail.
- session windows + watermark is the canonical "user sessionization at
  scale" pattern; state store is RocksDB-backed on a real cluster
  (spark.sql.streaming.stateStore.providerClass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from map_reduce_go_spark.plans.relational import dsum

#: A user's session ends after this many seconds without an event: the
#: next event at or past ``prev ts + gap`` opens a new session.
SESSION_GAP_SEC = 600

#: A click is attributed to the same user's purchase at most this many
#: minutes later.
ATTRIBUTION_LOOKBACK_MIN = 5

#: Default allowed lateness of a stream: bounds windowed and join state.
WATERMARK = "10 minutes"

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(spark: SparkSession, src_dir: str, fmt: str = "parquet") -> DataFrame:
    """File-source stream of events (new files appear -> new micro-batch).
    Explicit schema — streaming sources never infer at scale."""
    return (
        spark.readStream.format(fmt)
        .schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .load(src_dir)
    )


def watermarked(df: DataFrame, col: str, watermark: str) -> DataFrame:
    """``df`` with an event-time watermark on ``col`` when it is a stream;
    a batch frame has no late data and passes through unchanged."""
    return df.withWatermark(col, watermark) if df.isStreaming else df


def drop_duplicates(df: DataFrame, keys: list[str]) -> DataFrame:
    """First row per ``keys``: within the watermark horizon on a stream,
    over the whole frame in batch."""
    return df.dropDuplicatesWithinWatermark(keys) if df.isStreaming else df.dropDuplicates(keys)


def tumbling_counts(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """1-hour tumbling windows per event type: count and exact value sum.
    The body of ``events_tumbling_window``. window() is epoch-aligned,
    identical to date_trunc('hour') for a 1-hour width."""
    return (
        watermarked(events, "ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_avg_value(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """1-hour windows sliding every 30 minutes: count and average value
    per type. The body of ``events_sliding_window``."""
    return (
        watermarked(events, "ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(dsum("value") / F.count(F.lit(1)), 6).alias("avg_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


def session_counts(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Per-user session windows: a session ends after ``SESSION_GAP_SEC``
    of inactivity. The body of ``events_session_window``; session_start
    is the first event's epoch second (session_window start == min ts)."""
    return (
        watermarked(events, "ts", watermark)
        .groupBy(F.session_window("ts", f"{SESSION_GAP_SEC} seconds").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start"),
            "n_events",
        )
    )


def run_to_memory(stream_df: DataFrame, query_name: str, complete: bool = True):
    """Drain all available input into an in-memory sink table and stop.
    Test/debug harness for file-source streams (availableNow = process
    everything present, then finish — deterministic)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete" if complete else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def dedup_stream(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Streaming exact deduplication: drop records whose (event_id) was
    already seen, keeping state only inside the watermark horizon —
    the streaming form of the batch dedup_exact operator (ingestion
    pipelines re-deliver; exactly-once downstream needs this gate).

    State scale: one entry per distinct key within the watermark window,
    evicted as event-time advances — bounded by arrival rate × horizon,
    not by stream length. RocksDB state store on a real cluster.
    """
    deduped = drop_duplicates(watermarked(events, "ts", watermark), ["event_id"])
    return deduped.select("event_id", "ts", "user_id", "event_type", "value")


def purchase_click_join(events: DataFrame, how: str, watermark: str = WATERMARK) -> DataFrame:
    """Stream-stream interval join of each purchase with the same user's
    clicks in the preceding ``ATTRIBUTION_LOOKBACK_MIN`` minutes — the
    streaming form of the batch range join (plans/temporal.py).

    ``how`` is the join type: ``"inner"`` (attributed pairs),
    ``"left_outer"`` (every purchase; NULL click columns when
    unattributed — ``purchase_click_attribution_outer``) or
    ``"full_outer"`` (also the orphan clicks, with NULL purchase
    columns). Rows: ``purchase_id, click_id, user_id, purchase_epoch,
    click_epoch``.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can expire buffered state: a click older than
    (watermark + lookback) can never match a future purchase and is
    evicted. Unbounded state otherwise — the interval bound IS the scale
    contract for stream-stream joins. An outer row emits only once the
    watermark proves no match can still arrive, so it trails the
    watermark; the drained result equals the batch join (asserted in
    tests/test_streaming.py with the flush-sentinel drain pattern).
    """
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    lookback = F.expr(f"INTERVAL {ATTRIBUTION_LOOKBACK_MIN} minutes")
    return (
        watermarked(purchases, "purchase_ts", watermark)
        .join(
            watermarked(clicks, "click_ts", watermark),
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_ts") >= F.col("purchase_ts") - lookback)
            & (F.col("click_ts") <= F.col("purchase_ts")),
            how,
        )
        .select(
            "purchase_id",
            "click_id",
            F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
            F.unix_timestamp("purchase_ts").alias("purchase_epoch"),
            F.unix_timestamp("click_ts").alias("click_epoch"),
        )
    )


def write_stream_idempotent(stream_df: DataFrame, path: str, checkpoint: str):
    """foreachBatch sink with idempotent micro-batch commits: each batch
    overwrites ITS OWN batch_id partition (dynamic partition overwrite),
    so a retried batch replaces rather than duplicates itself — the
    streaming analog of the reference's atomic temp-file+rename commit
    (reference src/mr/worker.go:83-99). The checkpoint prevents
    reprocessing across restarts; the partition overwrite makes the
    within-batch retry safe.
    """

    def write_batch(df: DataFrame, batch_id: int) -> None:
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def daily_distinct_users(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Daily distinct active users (the DAU metric) as a streaming
    aggregation. Streaming DataFrames cannot run COUNT(DISTINCT)
    directly (distinct state does not merge incrementally across
    micro-batches), so this uses the canonical dedup-then-count
    rewrite: drop duplicate (user, day) pairs — keyed state bounded by
    actives × watermark horizon — then a plain windowed count, which IS
    the distinct count after dedup. The same code path runs in batch
    (plain dropDuplicates), so stream == batch is testable row-for-row;
    this is the streaming twin of the batch dau_mau_stickiness rollup.
    """
    days = watermarked(events, "ts", watermark).select(
        "user_id", F.window("ts", "1 day").alias("w")
    )
    deduped = drop_duplicates(days, ["user_id", "w"])
    return (
        deduped.groupBy("w")
        .agg(F.count(F.lit(1)).alias("dau"))
        .select(F.unix_timestamp("w.start").alias("day_start"), "dau")
    )


def enrich_with_customer_over(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static broadcast-join enrichment: the event stream joined
    to a STATIC (batch) customer dimension, then aggregated per
    (market segment, event type) — the canonical "enrich clicks with
    the user dim" topology. Spark plans the static side as a broadcast
    per micro-batch (no state, no stream-stream watermark bookkeeping),
    so at 100 TB/day of events the dim join costs one broadcast per
    micro-batch and the stateful footprint stays exactly the aggregate's.

    Same transformation works on a batch frame (batch-equality tested) —
    the dual-use-one-definition discipline every streaming operator in
    this module follows. Integer cents keep the revenue sum exact across
    micro-batch accumulation orders.
    """
    dim = F.broadcast(
        customer.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    return (
        events.join(dim, "user_id")
        .groupBy("segment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )
