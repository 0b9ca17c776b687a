"""Custom stateful streaming operator: the reference's in-process running
stats dict (src/core/qdrant_client.py:52-58, mutated per operation at
:229-233,:298-302,:389-392) as an ``applyInPandasWithState`` operator —
user-defined per-key state that survives across micro-batches, the Spark
construct for accumulators that built-in aggregations can't express.

Exactness: totals accumulate as integer cents (each double rounded to
DECIMAL(18,2) semantics — shortest-repr + HALF_UP, matching Spark's and
DuckDB's double→decimal cast) so the running state is order- and
batch-boundary-independent; the final emission equals the batch GROUP BY
bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .drain import drain
from .stats import EVENTS_SCHEMA, _staged_events_path

_CENT = Decimal("0.01")

OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_ops", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
STATE_SCHEMA = StructType(
    [StructField("cnt", LongType()), StructField("cents", LongType())]
)


def _update_stats(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    cnt, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        cnt += len(pdf)
        for v in pdf["value"]:
            cents += int(
                Decimal(repr(float(v))).quantize(_CENT, ROUND_HALF_UP) * 100
            )
    state.update((cnt, cents))
    yield pd.DataFrame(
        {"event_type": [key[0]], "n_ops": [cnt], "total_value": [cents / 100.0]}
    )


def stateful_running_stats(
    spark: SparkSession, sf_dir: str, query_name: str
) -> DataFrame:
    """Running (count, exact total) per op type with explicit user state.
    Emits on every micro-batch; the final row per key (max n_ops — counts
    are strictly increasing) is the converged state."""
    path = _staged_events_path(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
    updated = stream.groupBy("event_type").applyInPandasWithState(
        _update_stats,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    drain(
        updated,
        "stream_stateful",
        output_mode="update",
        query_name=query_name,
        conf={"spark.sql.shuffle.partitions": "4"},
    )
    t = spark.table(query_name)
    return t.groupBy("event_type").agg(
        F.max("n_ops").cast("bigint").alias("n_ops"),
        F.max_by("total_value", "n_ops").alias("total_value"),
    )
