"""Streaming gap-based sessionization — the stateful twin of the batch
``sessionization`` / ``session_window_rollup`` queries (SURVEY §2.10
posture: every batch curation op should also run as a continuous stage).

Spark-native construction: ``withWatermark`` + ``session_window(ts, gap)``
aggregation in APPEND mode — the engine merges overlapping per-event
windows into sessions as micro-batches arrive and emits each session
exactly once, when the watermark passes its close.  This is the
production shape for clickstream sessionization: state is bounded by the
watermark (a session older than max-event-time − delay can never grow
again and is flushed), so state size tracks ACTIVE sessions, not history.

Drain protocol for the bounded fixture: the watermark only advances with
new event time, so a drained bounded source leaves every session
unflushed in the state store.  The run is two-phased — phase A drains the
real files; phase B appends ONE sentinel event whose timestamp exceeds
max(ts) + delay + gap, advancing the watermark past every real session's
close (Spark's no-data batch then emits them), and the sentinel's own
forever-open session is excluded from the result by its reserved user id.
Phase ordering (not file mtimes) guarantees the sentinel is processed
last, so no real event is ever late: with the delay chosen to exceed the
fixture's full time span, the drained result equals the batch query
bit-for-bit regardless of how the file source batches.

Oracle semantics: session windows MERGE when they overlap OR TOUCH — an
event at EXACTLY prev + gap merges into the previous session, so the
split rule is strictly ``gap > threshold``, identical to the hand-rolled
``sessionization`` query's.  (The r15 exact-gap fuzz established this
against the engine; the batch ``session_window_rollup`` oracle had
documented ``>=`` and was corrected with it.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from ._tmpdirs import tracked_mkdtemp
from .drain import running
from .stats import EVENTS_SCHEMA

SESSION_GAP = "30 minutes"
# longer than any fixture's event-time span, so no real event is ever
# late relative to the watermark no matter which micro-batch it lands in
WATERMARK_DELAY_DAYS = 3650
SENTINEL_USER = -1

_staged_cache: dict[str, str] = {}


def _staged_sessionize_events(spark: SparkSession, sf_dir: str) -> str:
    """Stage events as 8 parquet files so maxFilesPerTrigger=2 yields 4
    genuine micro-batches — sessions spanning batch boundaries must merge
    in state, not inside one degenerate bulk batch (and the read
    parallelizes; the shared single-file staging made the whole drain one
    single-task scan)."""
    if sf_dir not in _staged_cache:
        out = tracked_mkdtemp(prefix="stream_sess_src_")
        load_table(spark, sf_dir, "events").repartition(8).write.mode(
            "overwrite"
        ).parquet(out)
        _staged_cache[sf_dir] = out
    return _staged_cache[sf_dir]


def _run_dir_with_links(spark: SparkSession, sf_dir: str) -> str:
    """A fresh per-run source directory hard-linked to the cached staged
    events files (the sentinel append must not pollute the shared cache —
    an old sentinel in an early micro-batch would advance the watermark
    past the real data and silently drop it)."""
    src = _staged_sessionize_events(spark, sf_dir)
    out = tracked_mkdtemp(prefix="stream_sess_")
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            os.link(os.path.join(src, f), os.path.join(out, f))
    return out


def sessionization_stream(
    spark: SparkSession, sf_dir: str, query_name: str
) -> DataFrame:
    """Drain the bounded events source through the watermarked
    session_window aggregation and return every finalized session
    (user_id, session_start, n_events, total_value) — equal as a set to
    the batch lag+cumsum construction with the strict ``>`` gap rule."""
    path = _run_dir_with_links(spark, sf_dir)
    max_ts = load_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    if max_ts is None:
        # zero events => zero sessions; a NULL-timestamped sentinel would
        # crash the stream, and there is no state to flush anyway
        return spark.createDataFrame(
            [],
            "user_id bigint, session_start timestamp, n_events bigint, "
            "total_value double",
        )
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )
    sess = (
        stream.withWatermark("ts", f"{WATERMARK_DELAY_DAYS} days")
        .groupBy("user_id", F.session_window("ts", SESSION_GAP))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select("user_id", "session_start", "n_events", "total_value")
    )
    # 4 state shards, like the other native stateful streams: session
    # state is ~|users| rows, and each extra shard costs a per-batch
    # state-store commit on all 5 micro-batches (measured: 8 shards
    # 4.80 s, 4 shards 3.91 s, 2 shards 4.05 s — identical 95 465 rows).
    # At scale this is sized to sustained throughput instead.
    with running(
        sess,
        "stream_sess",
        output_mode="append",
        query_name=query_name,
        conf={"spark.sql.shuffle.partitions": "4"},
        available_now=False,
    ) as q:
        q.processAllAvailable()  # phase A: all real events into state
        sentinel_ts = F.lit(max_ts) + F.expr(
            f"INTERVAL {WATERMARK_DELAY_DAYS} DAYS + INTERVAL 2 HOURS"
        )
        spark.range(1).select(
            F.lit(10**9).alias("event_id"),
            sentinel_ts.alias("ts"),
            F.lit(SENTINEL_USER).cast("bigint").alias("user_id"),
            F.lit("__sentinel__").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("").alias("props"),
        ).write.mode("append").parquet(path)
        q.processAllAvailable()  # phase B: watermark passes every close
    return spark.table(query_name).filter(F.col("user_id") != SENTINEL_USER)
