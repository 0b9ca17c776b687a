"""Streaming change-data-feed — the continuous twin of
`operators.store.VectorStore.changes` (SURVEY §2.10 posture: every batch
op should also run as a continuous stage; r15 VERDICT item 4).

The manifest log IS a stream: every commit publishes one immutable
``manifest_<v>.json``, so a Structured Streaming FILE SOURCE tailing the
store root sees each version exactly once.  Per micro-batch, the reader
diffs each newly-visible version against its predecessor with the SAME
batch ``changes(v-1, to=v)`` plan — file-level pruning and all,
per-COMMIT granularity regardless of how many manifests a trigger
carried — and appends the rows, tagged with their version, to a
version-partitioned sink.  Within a batch the per-version diffs are
independent (disjoint sink dirs, immutable inputs) and run overlapped.  This is Delta CDF's *per-commit* reader semantics: the drained
feed is the union of single-version diffs, which a consumer folds into
any window it wants (and which equals the endpoint diff whenever no
entity is touched twice — the registered query's scenario).

Exactly-once under foreachBatch RETRIES (the `streaming/neardup.py`
protocol): each version's rows are written with per-directory overwrite
to ``version=<v>``, so a replayed micro-batch rewrites byte-identical
partitions — the sink cannot double-count, and there is no other state
to corrupt (the manifest log itself is the state, immutable by
construction).

Scale: the heavy lifting is the batch ``changes`` plan — only files
added/removed by each commit are scanned, so a commit that touched one
bucket costs one bucket regardless of store size; the tail itself reads
one small JSON manifest per commit.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._tmpdirs import tracked_mkdtemp
from .drain import drain

CHANGE_SCHEMA = (
    "change string, point_id string, user_id string, ts double, "
    "embedding array<double>, metadata map<string,string>"
)

_MANIFEST_RE = re.compile(r"manifest_(\d+)\.json$")


def _emit_versions(store, versions: list[int], since: int, sink: str) -> None:
    """Write each version's single-commit diff to its own sink partition.
    Idempotent: a foreachBatch retry re-derives the same rows from the
    same immutable manifests and overwrites the same directories.

    The per-version diffs are INDEPENDENT jobs into separate
    ``version=<v>`` directories (each reads only its own two immutable
    manifests), so they run overlapped from a small driver thread pool
    (guide §2.6 — actions are only sequential because the driver calls
    them sequentially): a multi-version drain pays ~max(diff) instead of
    Σ(diff).  Overlap changes nothing observable: writes target disjoint
    dirs, and a retry that reaches none/some/all of them re-derives
    byte-identical rows."""
    todo = sorted(v for v in versions if v > since)
    # the feed is anchored AT `since`, like changes(since)
    if not todo:
        return
    if len(todo) == 1:
        v = todo[0]
        store.changes(v - 1, to=v).write.mode("overwrite").parquet(
            os.path.join(sink, f"version={v}")
        )
        return
    from concurrent.futures import ThreadPoolExecutor

    def _one(v: int) -> None:
        store.changes(v - 1, to=v).write.mode("overwrite").parquet(
            os.path.join(sink, f"version={v}")
        )

    with ThreadPoolExecutor(max_workers=min(3, len(todo))) as pool:
        for _ in pool.map(_one, todo):
            pass


def changes_feed_stream(spark: SparkSession, store, *, since: int) -> DataFrame:
    """Tail the store's manifest log from version ``since`` (exclusive)
    through the streaming per-commit CDC reader and return the drained
    feed: one row per logical row change, with its commit ``version``."""
    sink = tracked_mkdtemp(prefix=f"stream_cdc_{os.getpid()}_")
    # seed partition: fixed schema for the final read even if no version
    # past `since` ever commits
    spark.createDataFrame([], CHANGE_SCHEMA).write.mode("overwrite").parquet(
        os.path.join(sink, f"version={since}")
    )

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        files = [
            r["f"]
            for r in batch.select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        ]
        versions = []
        for f in files:
            m = _MANIFEST_RE.search(f)
            if not m:
                raise ValueError(f"changes_feed_stream: unexpected file {f!r}")
            versions.append(int(m.group(1)))
        _emit_versions(store, versions, since, sink)

    # one micro-batch may carry SEVERAL newly-visible manifests (r19: the
    # per-trigger file cap moved from 1 to 64) — the CDC granularity is
    # unchanged, because the reader diffs each version against its
    # predecessor INDIVIDUALLY (`_emit_versions`), exactly once, whatever
    # batch it arrives in; batching the trigger only removes per-trigger
    # checkpoint/planning overhead and lets the independent per-version
    # drains overlap (guide §2.6) instead of serializing one per trigger
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 64)
        .load(os.path.join(store.root, "manifest_*.json"))
    )
    # shuffle partitions pin to the state-shard band while the drain runs:
    # each per-version diff's full-outer join handles one commit's files,
    # not a corpus
    drain(
        stream,
        "stream_cdc",
        foreach_batch=on_batch,
        conf={"spark.sql.shuffle.partitions": "8"},
    )
    return spark.read.parquet(sink).filter(F.col("version") > since)
