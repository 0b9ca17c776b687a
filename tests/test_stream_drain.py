"""Lifecycle guarantees of the one stream start site
(``streaming/drain.py``): whether a drain succeeds, its foreachBatch
raises, or the caller's own code raises while the query runs, the
session's SQL conf is back to its values from before the drain, no query
is left running, and the checkpoint went to a tracked dir that Spark
actually used."""

from __future__ import annotations

import os

import pytest

from robi_biometric_qdrant_vector_db_service_spark.streaming import _tmpdirs
from robi_biometric_qdrant_vector_db_service_spark.streaming.drain import drain, running

KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.enabled",
)
PREFIX = "stream_drain_test"


def _conf(spark) -> dict[str, str]:
    return {k: spark.conf.get(k) for k in KEYS}


def _overrides(before: dict[str, str]) -> dict[str, str]:
    """Values that differ from the session's current ones."""
    coalesce = before[KEYS[1]].lower() == "true"
    return {
        KEYS[0]: str(int(before[KEYS[0]]) + 3),
        KEYS[1]: str(not coalesce).lower(),
    }


def _source(spark, tmp_path):
    path = str(tmp_path / "src")
    spark.range(10).write.parquet(path)
    return spark.readStream.schema("id bigint").parquet(path)


def _assert_clean(spark, before: dict[str, str], tracked_before: list[str]):
    assert _conf(spark) == before
    assert spark.streams.active == []
    new = [d for d in _tmpdirs._tracked if d not in tracked_before]
    ckpts = [d for d in new if os.path.basename(d).startswith(f"{PREFIX}_ckpt_")]
    assert len(ckpts) == 1, new
    # Spark wrote the query's metadata there: the tracked dir is the
    # checkpoint it used, not a stray allocation
    assert os.path.exists(os.path.join(ckpts[0], "metadata")), ckpts


@pytest.mark.parametrize("sink", ["foreach_batch", "memory"])
def test_drain_scopes_conf_to_the_run(spark, tmp_path, sink):
    stream = _source(spark, tmp_path)
    before = _conf(spark)
    over = _overrides(before)
    tracked = list(_tmpdirs._tracked)
    if sink == "foreach_batch":
        seen: list[tuple[dict[str, str], int]] = []

        def on_batch(batch, batch_id):
            # batch bodies plan under the overrides
            seen.append((_conf(spark), batch.count()))

        drain(stream, PREFIX, foreach_batch=on_batch, conf=over)
        assert seen and all(c == over for c, _ in seen), seen
        assert sum(n for _, n in seen) == 10
    else:
        name = drain(stream, PREFIX, output_mode="append", conf=over)
        assert spark.table(name).count() == 10
    _assert_clean(spark, before, tracked)


@pytest.mark.parametrize("where", ["foreach_batch", "caller"])
def test_failed_drain_restores_conf_and_stops(spark, tmp_path, where):
    stream = _source(spark, tmp_path)
    before = _conf(spark)
    over = _overrides(before)
    tracked = list(_tmpdirs._tracked)
    with pytest.raises(Exception, match="planted failure"):
        if where == "foreach_batch":

            def on_batch(batch, batch_id):
                raise ValueError("planted failure")

            drain(stream, PREFIX, foreach_batch=on_batch, conf=over)
        else:
            # the caller's own step fails while the query is still running
            # (as sessionize's sentinel round could)
            with running(
                stream, PREFIX, output_mode="append", conf=over, available_now=False
            ) as q:
                q.processAllAvailable()
                raise ValueError("planted failure")
    _assert_clean(spark, before, tracked)
