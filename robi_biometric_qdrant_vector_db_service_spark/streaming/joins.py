"""Stream-stream join: watermarked last-half-hour click context per purchase.

The batch twin is the as-of attribution join (`workload_events.
purchase_attribution_asof`); streams cannot carry an unbounded as-of
(state would never evict), so the streaming form is the TIME-BOUNDED
variant Structured Streaming natively supports: an inner equi-join on
user_id with a range condition ``purchase.ts - 30 min <= click.ts <=
purchase.ts``.  Watermarks on BOTH sides let the engine drop click state
older than the bound + delay — the state-retention contract that makes
the join runnable forever at production scale.

Determinism on the bounded fixture: the staged parquet directory arrives
in one micro-batch (no maxFilesPerTrigger cap), so no eligible pair is
ever lost to watermark eviction and the emitted pair set equals the batch
range-join — which is exactly what the DuckDB oracle computes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drain import drain
from .stats import EVENTS_SCHEMA, _staged_events_path


def attribution_join_stream(
    spark: SparkSession, sf_dir: str, query_name: str, *, bound_minutes: int = 30
) -> DataFrame:
    """Join each purchase to every click by the same user within the
    preceding ``bound_minutes``; returns per-purchase click counts after
    draining the bounded source.

    Output: (purchase_id bigint, n_clicks bigint, last_click_id bigint).
    """
    path = _staged_events_path(spark, sf_dir)
    clicks = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(path)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(path)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            f"p_user = c_user AND c_ts <= p_ts AND "
            f"c_ts >= p_ts - INTERVAL {bound_minutes} MINUTES"
        ),
    )
    drain(
        joined,
        "stream_join",
        output_mode="append",
        query_name=query_name,
        conf={"spark.sql.shuffle.partitions": "4"},
    )
    t = spark.table(query_name)
    return t.groupBy("purchase_id").agg(
        F.count("*").cast("bigint").alias("n_clicks"),
        F.max("click_id").cast("bigint").alias("last_click_id"),
    )
