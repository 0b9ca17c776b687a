"""foreachBatch RETRY idempotence of the streaming near-dup gates
(r14 ADVICE: the sinks previously appended with no batch_id keying, so a
retried micro-batch would double-emit pairs and state rows).

Protocol under test (streaming/neardup.py, streaming/neardup_embedding.py):
every state/sink write owns a ``batch=<id>`` partition (per-directory
overwrite) and state reads filter ``batch < id`` — so replaying a
micro-batch, whether after a FULL previous attempt or after a PARTIAL one
that crashed between the three writes, converges to byte-identical stores.
The tests drive ``_process_batch`` directly: once for batches 0 and 1,
snapshot all stores, then replay batch 1 (a) verbatim and (b) after
deleting one of its partitions to simulate a mid-write crash, asserting
the snapshots are unchanged.
"""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _snap(spark, *stores: str) -> list[list[tuple]]:
    return [
        sorted(tuple(r) for r in spark.read.parquet(s).collect()) for s in stores
    ]


def _run_replay_scenarios(spark, process, stores, batches):
    """Shared driver: process all batches, snapshot, then replay the LAST
    batch (full attempt + partial-crash attempt) and require identical
    stores each time."""
    for i, b in enumerate(batches):
        process(b, i, *stores)
    want = _snap(spark, *stores)
    last = len(batches) - 1

    # (a) full retry: the previous attempt completed all three writes
    process(batches[last], last, *stores)
    assert _snap(spark, *stores) == want

    # (b) partial retry: the previous attempt crashed after the FIRST
    # write (pairs) — later state partitions for this id are missing
    shutil.rmtree(f"{stores[0]}/batch={last}")  # bands/state store
    process(batches[last], last, *stores)
    assert _snap(spark, *stores) == want


def test_text_neardup_replay_idempotent(spark, tmp_path):
    from robi_biometric_qdrant_vector_db_service_spark.streaming.neardup import (
        _process_batch,
        _seed_state,
    )
    from robi_biometric_qdrant_vector_db_service_spark.sources.catalog import (
        load_table,
    )

    run = str(tmp_path)
    stores = _seed_state(spark, run)
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    batches = [
        docs.filter(F.col("doc_id") % 2 == i).localCheckpoint() for i in (0, 1)
    ]
    _run_replay_scenarios(spark, _process_batch, stores, batches)


def test_embedding_neardup_replay_idempotent(spark, tmp_path):
    from robi_biometric_qdrant_vector_db_service_spark.streaming.neardup_embedding import (  # noqa: E501
        _process_batch,
        _seed_state,
    )
    from robi_biometric_qdrant_vector_db_service_spark.sources.catalog import (
        load_table,
    )

    run = str(tmp_path)
    stores = _seed_state(spark, run)
    vecs = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    batches = [
        vecs.filter(F.col("vec_id") % 2 == i).localCheckpoint() for i in (0, 1)
    ]
    _run_replay_scenarios(spark, _process_batch, stores, batches)


# ---------------------------------------------------------------------------
# post-artifact r15 fuzz: ARBITRARY crash points.  A foreachBatch attempt
# can die between any of its three writes (pairs -> bands/state -> rows),
# leaving any SUBSET of the last batch's partitions on disk; replaying the
# batch must converge to the same stores regardless of which subset
# survived.  hypothesis drives the subset and a small planted-dup corpus.
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=4, deadline=None)
@given(
    survive=st.sets(st.integers(0, 2)),
    seed=st.integers(0, 2**16),
)
def test_text_replay_converges_from_any_crash_subset(
    spark, tmp_path_factory, survive, seed
):
    import numpy as np

    from robi_biometric_qdrant_vector_db_service_spark.streaming.neardup import (
        _process_batch,
        _seed_state,
    )

    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(8)]
    texts = [
        " ".join(rng.choice(vocab, size=int(rng.integers(3, 12))))
        for _ in range(10)
    ]
    texts += [texts[0], texts[3]]  # planted exact dups across batches
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    run = str(tmp_path_factory.mktemp("replay_fuzz"))
    stores = _seed_state(spark, run)
    batches = [
        docs.filter(F.col("doc_id") % 2 == i).localCheckpoint() for i in (0, 1)
    ]
    for i, b in enumerate(batches):
        _process_batch(b, i, *stores)
    want = _snap(spark, *stores)

    # crash simulation: keep only the chosen subset of batch=1 partitions
    for j, store in enumerate(stores):
        if j not in survive:
            shutil.rmtree(f"{store}/batch=1", ignore_errors=True)
    _process_batch(batches[1], 1, *stores)
    assert _snap(spark, *stores) == want


def test_changefeed_replay_idempotent_and_equals_batch(spark, tmp_path):
    """The streaming CDC tail: (a) the drained feed equals the union of
    batch single-version diffs, (b) re-emitting any version (foreachBatch
    retry) leaves the sink byte-identical, (c) versions at or before the
    anchor are skipped, (d) a pure-compaction commit emits nothing."""
    import os

    from robi_biometric_qdrant_vector_db_service_spark.operators.store import (
        VectorStore,
    )
    from robi_biometric_qdrant_vector_db_service_spark.streaming.changefeed import (
        _emit_versions,
        changes_feed_stream,
    )

    root = str(tmp_path)
    store = VectorStore(spark, root, n_buckets=2)
    store._publish_manifest({})  # genesis
    base = spark.createDataFrame(
        [(f"p{i}", [float(i), 1.0], f"u{i % 3}", 100.0 + i, {}) for i in range(12)],
        "point_id string, embedding array<double>, user_id string, "
        "ts double, metadata map<string,string>",
    )
    store.add_batch(base, normalize=False)           # v0 (anchor)
    v0 = store._current_version()
    store.delete_where("user_id = 'u1'")             # v1: deletes
    upd = spark.createDataFrame(
        [("p0", [9.0, 9.0], "u0", 900.0, {}), ("px", [5.0, 5.0], "unew", 500.0, {})],
        base.schema,
    )
    store.upsert(upd, normalize=False)               # v2: update + insert
    store.compact(max_files_per_bucket=1)            # v3: churn, no changes

    feed = changes_feed_stream(spark, store, since=v0)
    got = sorted(
        (r["version"], r["change"], r["point_id"], r["ts"]) for r in feed.collect()
    )
    want = []
    for v in (v0 + 1, v0 + 2, v0 + 3):
        for r in store.changes(v - 1, to=v).collect():
            want.append((v, r["change"], r["point_id"], r["ts"]))
    assert got == sorted(want)
    assert not [w for w in want if w[0] == v0 + 3]  # compaction silent
    assert {w[0] for w in want} == {v0 + 1, v0 + 2}

    # retry idempotence: re-emit every version into the live sink
    sink = os.path.dirname(feed.inputFiles()[0])
    sink = sink[: sink.rindex("/version=")]
    _emit_versions(store, [v0, v0 + 1, v0 + 2, v0 + 3], v0, sink)
    again = sorted(
        (r["version"], r["change"], r["point_id"], r["ts"])
        for r in spark.read.parquet(sink)
        .filter(F.col("version") > v0)
        .collect()
    )
    assert again == got


@settings(max_examples=4, deadline=None)
@given(
    ops=st.lists(st.integers(0, 3), min_size=1, max_size=5),
    cut=st.integers(0, 2),
    seed=st.integers(0, 2**31 - 1),
)
def test_changefeed_union_equals_batch_from_any_anchor(
    spark, tmp_path_factory, ops, cut, seed
):
    """Model fuzz of the per-commit emitter: arbitrary mutation sequences,
    arbitrary anchor version, arbitrary version->batch groupings — the
    emitted union must equal the batch single-version diffs past the
    anchor (and only those)."""
    import os

    from robi_biometric_qdrant_vector_db_service_spark.operators.store import (
        VectorStore,
    )
    from robi_biometric_qdrant_vector_db_service_spark.streaming.changefeed import (
        CHANGE_SCHEMA,
        _emit_versions,
    )

    rng = __import__("numpy").random.default_rng(seed)
    root = str(tmp_path_factory.mktemp("cdc_model_store"))
    store = VectorStore(spark, root, n_buckets=2)
    store._publish_manifest({})
    schema = (
        "point_id string, embedding array<double>, user_id string, "
        "ts double, metadata map<string,string>"
    )

    def batch(tag: str, n: int):
        return spark.createDataFrame(
            [(f"{tag}{i}", [float(i), 2.0], f"u{i % 2}",
              float(rng.integers(1, 10**6)), {}) for i in range(n)],
            schema,
        )

    store.add_batch(batch("base", 8), normalize=False)
    for k, op in enumerate(ops):
        if op == 0:
            store.add_batch(batch(f"a{k}_", 3), normalize=False)
        elif op == 1:
            store.delete_where(f"user_id = 'u{k % 2}'")
        elif op == 2:
            store.upsert(batch("base", 2), normalize=False)  # content churn
        else:
            store.compact(max_files_per_bucket=1)
    v_hi = store._current_version()
    anchor = min(cut, v_hi)

    sink = str(tmp_path_factory.mktemp("cdc_model_sink"))
    spark.createDataFrame([], CHANGE_SCHEMA).write.mode("overwrite").parquet(
        os.path.join(sink, f"version={anchor}")
    )
    # arbitrary grouping: split versions 0..v_hi into two emit calls,
    # including versions AT/BELOW the anchor (must be skipped)
    versions = list(range(v_hi + 1))
    half = len(versions) // 2
    _emit_versions(store, versions[:half], anchor, sink)
    _emit_versions(store, versions[half:], anchor, sink)

    got = sorted(
        (r["version"], r["change"], r["point_id"], r["ts"])
        for r in spark.read.parquet(sink)
        .filter(F.col("version") > anchor)
        .collect()
    )
    want = sorted(
        (v, r["change"], r["point_id"], r["ts"])
        for v in range(anchor + 1, v_hi + 1)
        for r in store.changes(v - 1, to=v).collect()
    )
    assert got == want


def test_aliasfeed_replay_idempotent_and_equals_batch(spark):
    """The streaming ALIAS tail (r17): (a) the drained feed equals the
    batch alias_changes diff row-for-row, (b) re-emitting any version
    (foreachBatch retry) leaves the sink identical, (c) the no-op
    re-point commit drains as a version with zero rows, (d) time-travel
    reads reconstruct every intermediate table."""
    import os

    from robi_biometric_qdrant_vector_db_service_spark.streaming.aliasfeed import (
        _emit_versions,
        alias_feed_stream,
    )
    from robi_biometric_qdrant_vector_db_service_spark.workload import (
        _alias_scripted_registry,
    )

    reg = _alias_scripted_registry(spark)
    feed = alias_feed_stream(spark, reg, since=0)
    got = sorted(
        (r["version"], r["change"], r["alias"], r["target"])
        for r in feed.collect()
    )
    want = sorted(
        (r["version"], r["change"], r["alias"], r["target"])
        for r in reg.alias_changes(0).collect()
    )
    assert got == want and len(got) == 7
    assert not [g for g in got if g[0] == 5]  # no-op commit silent

    # time travel: every intermediate table reconstructs
    blue = dict(reg.alias_table(1))["prod"]
    green = dict(reg.alias_table(5))["prod"]
    assert reg.alias_table(0) == {}
    assert reg.alias_table(2) == {"prod": blue, "staging": green}
    assert reg.alias_table(3) == {"prod": green, "shadow": green}
    assert reg.alias_table(4) == reg.alias_table(5) == {"prod": green}

    # retry idempotence: re-emit every version into the live sink
    sink = os.path.dirname(feed.inputFiles()[0])
    sink = sink[: sink.rindex("/version=")]
    _emit_versions(reg, [0, 1, 2, 3, 4, 5], 0, sink)
    again = sorted(
        (r["version"], r["change"], r["alias"], r["target"])
        for r in spark.read.parquet(sink).filter(F.col("version") > 0).collect()
    )
    assert again == got


@settings(max_examples=5, deadline=None)
@given(script=st.lists(st.integers(0, 4), min_size=1, max_size=8),
       anchor=st.integers(0, 2))
def test_aliasfeed_union_equals_batch_from_any_anchor(
    spark, tmp_path_factory, script, anchor
):
    """Model fuzz of the alias emitter: arbitrary valid op sequences,
    arbitrary anchor, arbitrary version->emit groupings — the emitted
    union equals the batch diffs past the anchor, and replaying the
    whole history through alias_diff reconstructs the final table."""
    import os

    from robi_biometric_qdrant_vector_db_service_spark.operators.store import (
        AliasRegistry,
        VectorStore,
    )
    from robi_biometric_qdrant_vector_db_service_spark.streaming.aliasfeed import (
        ALIAS_EVENT_SCHEMA,
        _emit_versions,
    )

    root = str(tmp_path_factory.mktemp("alias_model"))
    stores = [
        VectorStore.create(spark, os.path.join(root, n)).root
        for n in ("s0", "s1")
    ]
    reg = AliasRegistry(spark, os.path.join(root, "registry"))
    names = ["a", "b", "c"]
    applied = 0
    for k, op in enumerate(script):
        table = reg.aliases()
        try:
            if op in (0, 1):  # create/re-point
                reg.update_aliases(
                    [("create", names[k % 3], stores[op])]
                )
            elif op == 2 and table:  # delete first existing
                reg.update_aliases([("delete", sorted(table)[0])])
            elif op == 3 and table:  # rename to a fresh name
                reg.update_aliases(
                    [("rename", sorted(table)[0], f"r{k}")]
                )
            elif op == 4:  # batch of two creates
                reg.update_aliases(
                    [("create", "x", stores[0]), ("create", "y", stores[1])]
                )
            else:
                continue
            applied += 1
        except ValueError:
            continue
    v_hi = reg.current_version()
    assert v_hi == applied
    a = min(anchor, v_hi)

    sink = str(tmp_path_factory.mktemp("alias_model_sink"))
    spark.createDataFrame([], ALIAS_EVENT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(sink, f"version={a}"))
    versions = list(range(v_hi + 1))
    half = len(versions) // 2
    _emit_versions(reg, versions[:half], a, sink)
    _emit_versions(reg, versions[half:], a, sink)

    got = sorted(
        (r["version"], r["change"], r["alias"], r["target"])
        for r in spark.read.parquet(sink).filter(F.col("version") > a).collect()
    )
    want = sorted(
        (v, c, al, t)
        for (v, c, al, t) in reg.alias_diff(a, v_hi)
    )
    assert got == want
    # folding the full diff over the empty table reproduces the final
    # state (within a version, unsets apply before sets — a re-point
    # emits both for one alias)
    folded: dict = {}
    for _v, c, al, t in sorted(
        reg.alias_diff(0, v_hi), key=lambda r: (r[0], r[1] != "unset")
    ):
        if c == "set":
            folded[al] = t
        else:
            folded.pop(al, None)
    assert folded == reg.aliases()
