"""Structured Streaming twin of the PII scrub (SURVEY §2.10 posture: every
batch curation op should also run as a continuous stage).

The scrub is a STATELESS projection, so the identical expression tree the
batch ``pii_redaction`` query uses (``workload_pipeline.pii_scrub_frame``)
runs under ``readStream`` unchanged — no state store, no watermark, the
plan per micro-batch is the batch plan.  Flagged rows append to the sink
as they arrive; the registered query drains the bounded staged source and
returns the per-source totals, which must equal the batch aggregation
(the oracle) exactly.

In production the source is the document feed (Kafka/files) and the sink
the scrubbed lake table; throughput scales with source partitions since
the stage is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from ._tmpdirs import tracked_mkdtemp
from .drain import drain

DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)

_staged_docs_cache: dict[str, str] = {}


def staged_documents_path(spark: SparkSession, sf_dir: str) -> str:
    """Stage the documents table as a parquet dir readStream can consume
    (plain types; the driver's files may carry TIMESTAMP(NANOS) elsewhere).
    Staged once per sf_dir per process — the source is read-only."""
    if sf_dir not in _staged_docs_cache:
        out = tracked_mkdtemp(prefix="stream_docs_")
        load_table(spark, sf_dir, "documents").write.mode("overwrite").parquet(out)
        _staged_docs_cache[sf_dir] = out
    return _staged_docs_cache[sf_dir]


def pii_scrub_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the scrub projection as a stream over the staged documents,
    append flagged rows to a memory sink, drain, and return the
    per-source totals (n_docs, n_emails, n_phones)."""
    from ..workload_pipeline import pii_scrub_frame

    path = staged_documents_path(spark, sf_dir)
    stream = spark.readStream.schema(DOCS_SCHEMA).option(
        "maxFilesPerTrigger", 4
    ).parquet(path)
    flagged = pii_scrub_frame(stream, carry=("source",))
    name = drain(flagged, "stream_scrub", output_mode="append")
    return (
        spark.table(name)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_emails").cast("bigint").alias("n_emails"),
            F.sum("n_phones").cast("bigint").alias("n_phones"),
        )
    )


def quality_gate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the Gopher quality gate (workload_text.gopher_frame — a
    stateless projection+filter, identical expression tree as batch) as a
    stream over the staged documents, append passing docs to a memory
    sink, drain, and return per-lang totals (n_docs, sum_words)."""
    from ..workload_text import gopher_frame

    path = staged_documents_path(spark, sf_dir)
    stream = spark.readStream.schema(DOCS_SCHEMA).option(
        "maxFilesPerTrigger", 4
    ).parquet(path)
    passed = gopher_frame(stream)
    name = drain(passed, "stream_quality", output_mode="append")
    return (
        spark.table(name)
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("sum_words"),
        )
    )
