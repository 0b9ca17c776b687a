"""The one place a stream starts, runs and stops.

Every Structured Streaming stage in this package drains a bounded source
the same way: apply the stage's SQL conf overrides, start the query into a
``foreachBatch`` function or a memory sink under an ``AvailableNow``
trigger (plan the pending files up-front, run them as read-limit-sized
micro-batches, then terminate — no polling after the last batch) with a
TRACKED checkpoint dir, wait, stop, restore the conf.
``running`` owns that lifecycle and yields the started query; ``drain`` is
``running`` plus ``awaitTermination``.

Conf contract: overrides are scoped to ONE drain.  They are set before
the query starts (streaming confs such as ``spark.sql.shuffle.partitions``
— the state-shard count — are cloned into the query and locked into its
checkpoint) and kept until after it stops, so every ``foreachBatch`` body
plans its own batch jobs under them too; they are restored in ``finally``,
so a failed drain leaves the session as it found it.  The stages pin 4 or
8 shuffle partitions: bounded local sources need a handful of state
shards, not the batch engine's core count (state-store setup dominates
otherwise); at scale the count is sized to sustained throughput instead.

Checkpoints always go to ``tracked_mkdtemp`` dirs: without an explicit
location Spark allocates an untracked temp checkpoint that is retained on
query failure.
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ._tmpdirs import tracked_mkdtemp

_counter = itertools.count()


@contextmanager
def running(
    frame: DataFrame,
    prefix: str,
    *,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    output_mode: str | None = None,
    query_name: str | None = None,
    conf: dict[str, str] | None = None,
    available_now: bool = True,
) -> Iterator[StreamingQuery]:
    """Start ``frame`` and yield the running query; stop it on exit.

    The sink is ``foreach_batch`` if given, else a memory sink in
    ``output_mode`` whose table is the query name (``query_name``, or a
    unique ``<prefix>_<pid>_<n>``).  The checkpoint dir is a tracked
    ``<prefix>_ckpt_*`` dir.  ``available_now=False`` leaves the default
    trigger for callers that drive the query with ``processAllAvailable``."""
    spark = frame.sparkSession
    conf = conf or {}
    prev = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        writer = frame.writeStream
        if foreach_batch is not None:
            writer = writer.foreachBatch(foreach_batch)
        else:
            writer = writer.outputMode(output_mode).format("memory")
        if available_now:
            writer = writer.trigger(availableNow=True)
        q = (
            writer.option(
                "checkpointLocation", tracked_mkdtemp(prefix=f"{prefix}_ckpt_")
            )
            .queryName(query_name or f"{prefix}_{os.getpid()}_{next(_counter)}")
            .start()
        )
        try:
            yield q
        finally:
            q.stop()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def drain(frame: DataFrame, prefix: str, **kwargs) -> str:
    """Run ``frame`` to the end of its bounded source (see ``running`` for
    the arguments) and return the query name — the memory sink's table."""
    with running(frame, prefix, **kwargs) as q:
        q.awaitTermination()
    return q.name
