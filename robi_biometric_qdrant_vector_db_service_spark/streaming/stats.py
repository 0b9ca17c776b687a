"""Structured Streaming twin of the reference's running operational stats.

Reference behaviors mapped (SURVEY §2.10):
- per-op running counters (qdrant_client.py:52-58, updated at
  :229-233,:298-302,:389-392) → streaming groupBy aggregation;
- hourly cleanup retiring metrics older than 24 h
  (main.py:98-114, utils/performance.py:499-511 ``record.timestamp >
  cutoff``) → ``withWatermark`` state eviction — the same predicate,
  enforced by the engine;
- ``flush_interval_sec=1`` near-real-time visibility
  (qdrant_client.py:125) → micro-batch trigger.

Local tests drive a bounded parquet directory through the streaming
engine (memory sink + an AvailableNow drain) so results are comparable to
the batch queries; in production the source is Kafka/files and the sink
Delta — the aggregation plan is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from ._tmpdirs import tracked_mkdtemp
from .drain import drain

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


_staged_cache: dict[str, str] = {}


def _staged_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events table as a plain-timestamp parquet directory that
    readStream can consume (the driver's files are TIMESTAMP(NANOS), which
    the streaming reader rejects the same way the batch one does).  Staged
    once per sf_dir per process — the source is read-only."""
    if sf_dir not in _staged_cache:
        out = tracked_mkdtemp(prefix="stream_events_")
        load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(out)
        _staged_cache[sf_dir] = out
    return _staged_cache[sf_dir]


def ops_stats_stream(spark: SparkSession, sf_dir: str, query_name: str) -> DataFrame:
    """Running per-op-type counters (A3): counts + exact DECIMAL value sums,
    continuously updated — ``outputMode('complete')`` over a streaming
    groupBy.  Returns the final table after draining the bounded source."""
    path = _staged_events_path(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    agg = stream.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_ops"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    drain(
        agg,
        "stream_stats",
        output_mode="complete",
        query_name=query_name,
        conf={"spark.sql.shuffle.partitions": "4"},
    )
    return spark.table(query_name)


_staged_dup_cache: dict[str, str] = {}


def _staged_duplicated_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events table written TWICE into one directory — a bounded
    stand-in for an at-least-once delivery stream (every event delivered
    two times)."""
    if sf_dir not in _staged_dup_cache:
        out = tracked_mkdtemp(prefix="stream_events_dup_")
        ev = load_table(spark, sf_dir, "events")
        ev.write.mode("overwrite").parquet(out)
        ev.write.mode("append").parquet(out)
        _staged_dup_cache[sf_dir] = out
    return _staged_dup_cache[sf_dir]


def dedup_events_stream(spark: SparkSession, sf_dir: str, query_name: str) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicates(event_id)`` over an
    at-least-once source (every event delivered twice) — the streaming twin
    of the exact-dedup batch operator.  State is keyed by event_id;
    production bounds it with ``dropDuplicatesWithinWatermark`` (state
    evicted past the delay, same plan shape) — the bounded fixture keeps the
    unbounded variant so the result is deterministic regardless of how the
    file source batches.  Emits the deduped per-type counts, which must
    equal the batch GROUP BY over the ORIGINAL (pre-duplication) table."""
    path = _staged_duplicated_events_path(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    # project to the columns the downstream agg reads BEFORE deduplicating:
    # the dedup state rows and the sink rows both shrink to (id, type) —
    # event_id determines the row, so dropping payload columns is lossless
    deduped = stream.select("event_id", "event_type").dropDuplicates(["event_id"])
    drain(
        deduped,
        "stream_stats",
        output_mode="append",
        query_name=query_name,
        conf={"spark.sql.shuffle.partitions": "4"},
    )
    t = spark.table(query_name)
    return t.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("event_id").cast("bigint").alias("n_unique"),
    )


def hourly_window_stream(
    spark: SparkSession, sf_dir: str, query_name: str, watermark: str = "24 hours"
) -> DataFrame:
    """Event-time tumbling-window counts with a 24 h watermark — the
    reference's metric-retention sweep as engine-managed state eviction.
    ``update`` mode so every window that received data is emitted even at
    the bounded source's end (append would hold the tail back)."""
    path = _staged_events_path(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(F.col("window.start").alias("hour"), "event_type", "n")
    )
    drain(
        agg,
        "stream_stats",
        output_mode="update",
        query_name=query_name,
        conf={"spark.sql.shuffle.partitions": "4"},
    )
    # update mode may emit a window several times; keep the latest value
    t = spark.table(query_name)
    return t.groupBy("hour", "event_type").agg(F.max("n").alias("n"))


def dedup_events_stream_watermarked(
    spark: SparkSession, sf_dir: str, query_name: str, delay: str = "3650 days"
) -> DataFrame:
    """The PRODUCTION shape of the streaming dedup:
    ``dropDuplicatesWithinWatermark`` bounds the id state to the watermark
    delay instead of growing forever (the 100 TB posture — at-least-once
    sources redeliver within a bounded horizon, so state eviction past the
    delay is safe).  With a delay that covers the whole bounded fixture the
    state never evicts mid-run, so the result is deterministic and must
    equal the unbounded variant (asserted in tests/test_sources.py).

    State is keyed on ``event_id`` (the subset argument); the projection
    carries only the key, the grouping column, and the watermark column."""
    path = _staged_duplicated_events_path(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    deduped = (
        stream.select("event_id", "event_type", "ts")
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    drain(
        deduped,
        "stream_stats",
        output_mode="append",
        query_name=query_name,
        conf={"spark.sql.shuffle.partitions": "4"},
    )
    t = spark.table(query_name)
    return t.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("event_id").cast("bigint").alias("n_unique"),
    )
