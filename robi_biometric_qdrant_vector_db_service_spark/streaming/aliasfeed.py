"""Streaming alias-event feed — the continuous twin of
`operators.store.AliasRegistry.alias_changes` (r16 VERDICT item 4: the
alias/snapshot control plane was the last batch-only store surface with
no continuous analogue).

Same protocol as `changefeed.py`, one level up the control plane: every
committed alias batch publishes one immutable ``alias_log_<v>.json``, so
a Structured Streaming FILE SOURCE tailing the registry root sees each
version exactly once; per micro-batch (which may carry several
newly-visible logs) the reader diffs each version against its
predecessor with the SAME batch ``alias_diff`` walk — per-COMMIT
granularity regardless of trigger batching — and appends the rows,
tagged with their version, to a version-partitioned sink, overlapping
the independent per-version emits.  A batch that nets to no change (re-pointing
an alias at its current target) emits a version with ZERO rows — the
alias plane's compaction-silence contract.

Exactly-once under foreachBatch RETRIES: per-directory overwrite into
``version=<v>`` — a replayed micro-batch re-derives identical rows from
the same immutable logs and rewrites byte-identical partitions; there is
no other state.

Scale: trivially bounded — the alias table is tiny by construction (it
names collections, not points), so each commit costs one small JSON read
and a one-partition write; the pattern matters because it completes the
"every batch op also runs continuously" charter, with serving reads able
to follow alias swaps live.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._tmpdirs import tracked_mkdtemp
from .drain import drain

ALIAS_EVENT_SCHEMA = "change string, alias string, target string"

_LOG_RE = re.compile(r"alias_log_(\d+)\.json$")


def _emit_versions(registry, versions: list[int], since: int, sink: str) -> None:
    """Write each version's single-commit diff to its own sink partition.
    Idempotent under foreachBatch retries (the changefeed discipline).

    The per-version emits are independent jobs into disjoint
    ``version=<v>`` dirs over immutable log snapshots, so they overlap
    from a small driver pool (guide §2.6, the changefeed discipline) —
    a multi-version drain pays ~max(emit) instead of Σ(emit)."""

    def _one(v: int) -> None:
        rows = [
            (change, alias, target)
            for _v, change, alias, target in registry.alias_diff(v - 1, v)
        ]
        # single-slice parallelize, NOT createDataFrame(list): the latter
        # spreads driver-local rows over defaultParallelism partitions, and
        # a downstream coalesce(1) then evaluates all 32 Python-RDD
        # partitions sequentially inside one task (~4.5s of Python-worker
        # round-trips per 1-row version write — measured r17); one slice
        # makes the whole emit one short task (~0.3s)
        spark = registry.spark
        spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), ALIAS_EVENT_SCHEMA
        ).write.mode("overwrite").parquet(
            os.path.join(sink, f"version={v}")
        )

    todo = sorted(v for v in versions if v > since)
    # the feed is anchored AT `since`
    if not todo:
        return
    if len(todo) == 1:
        _one(todo[0])
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(3, len(todo))) as pool:
        for _ in pool.map(_one, todo):
            pass


def alias_feed_stream(
    spark: SparkSession, registry, *, since: int = 0
) -> DataFrame:
    """Tail the registry's alias log from version ``since`` (exclusive)
    through the streaming per-commit reader and return the drained feed:
    one row per logical alias change, with its commit ``version``."""
    sink = tracked_mkdtemp(prefix=f"stream_alias_{os.getpid()}_")
    # seed partition: fixed schema for the final read even if no version
    # past `since` ever commits (and zero-row versions write empty dirs)
    spark.createDataFrame(
        spark.sparkContext.parallelize([], 1), ALIAS_EVENT_SCHEMA
    ).write.mode("overwrite").parquet(os.path.join(sink, f"version={since}"))

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        files = [
            r["f"]
            for r in batch.select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        ]
        versions = []
        for f in files:
            m = _LOG_RE.search(f)
            if not m:
                raise ValueError(f"alias_feed_stream: unexpected file {f!r}")
            versions.append(int(m.group(1)))
        _emit_versions(registry, versions, since, sink)

    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 64)
        .load(os.path.join(registry.root, "alias_log_*.json"))
    )
    drain(stream, "stream_alias", foreach_batch=on_batch)
    return spark.read.parquet(sink).filter(F.col("version") > since)
