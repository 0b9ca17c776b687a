"""Continuous ingestion into the manifest store (streaming sink surface).

The reference runs as an always-on ingest service: upserts stream in over
HTTP and Qdrant flushes segments every second
(src/core/qdrant_client.py:125 ``flush_interval_sec=1``; bounded segments
:117-124).  The engine twin is Structured Streaming ``foreachBatch`` into
``VectorStore.add_batch``:

- each micro-batch is ONE atomic append — new segment files + one manifest
  publish — so concurrent readers always see a consistent snapshot
  mid-stream (never partial files), exactly the property the reference's
  per-segment flush provides;
- the checkpoint makes redelivery safe at the micro-batch level: a batch
  that published its manifest is never re-run, one that crashed mid-write
  leaves only unreferenced files (vacuum()-able), not corrupt state;
- at scale the same topology runs against Kafka/file streams with the
  trigger interval playing flush_interval_sec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.store import POINT_SCHEMA, VectorStore
from ..sources.catalog import load_table
from ._tmpdirs import tracked_mkdtemp
from .drain import drain

_staged_points_cache: dict[str, tuple[str, int]] = {}


def _staged_points_path(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Stage the embeddings corpus as a multi-file parquet directory of
    store-schema points (deterministic ids; file count fixed so
    ``maxFilesPerTrigger`` yields a known number of micro-batches)."""
    if sf_dir not in _staged_points_cache:
        out = tracked_mkdtemp(prefix="stream_points_")
        emb = load_table(spark, sf_dir, "embeddings")
        pts = emb.select(
            F.col("vec_id").cast("string").alias("point_id"),
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
            F.concat(F.lit("u"), F.col("label").cast("string")).alias("user_id"),
            (F.lit(1000.0) + F.col("vec_id")).alias("ts"),
            F.create_map().cast("map<string,string>").alias("metadata"),
        )
        pts.repartition(4).write.mode("overwrite").parquet(out)
        _staged_points_cache[sf_dir] = (out, 4)
    return _staged_points_cache[sf_dir]


def store_ingest_stream(spark: SparkSession, sf_dir: str) -> tuple[VectorStore, int]:
    """Stream the staged point files into a FRESH store, two files per
    micro-batch.  Returns (store, number of manifest versions published) —
    with 4 staged files and maxFilesPerTrigger=2 the bounded drain publishes
    exactly 2 append versions on top of the empty v0."""
    path, n_files = _staged_points_path(spark, sf_dir)
    store = VectorStore.create(spark, tracked_mkdtemp(prefix="vstore_stream_"))

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        store.add_batch(batch_df, normalize=False)

    drain(
        spark.readStream.schema(POINT_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(path),
        "stream_ingest",
        foreach_batch=_sink,
    )
    return store, store._current_version()
