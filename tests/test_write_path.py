"""The store's one write path.

Every id-keyed or predicate write (``delete_by_id``, ``delete_where``, the
four payload calls, ``update_vectors``) is a one-op
``_apply_rewrite_group``, and ``upsert`` is a one-batch
``_apply_upsert_group``.  These tests pin that:

- each single mutation starts no more Spark jobs than the former per-method
  implementations did on the same small store (the bounds below were
  measured on those implementations, 4 and 8 local cores alike), and
  ``update_vectors`` one fewer: its segment write takes the partition count
  of its scan, so probing it no longer runs the flag frame's broadcast;
- only the commit sites named below publish a manifest version;
- a solo IN-list or predicate op still reaches the parquet scan as a pushed
  filter;
- ``normalize=False`` still stores vectors as given, and a NULL request
  vector keeps the stored one.
"""

from __future__ import annotations

import ast
import inspect
import re

import pytest

from robi_biometric_qdrant_vector_db_service_spark.operators import store as store_mod
from robi_biometric_qdrant_vector_db_service_spark.operators.store import VectorStore
from robi_biometric_qdrant_vector_db_service_spark.session import local_frame
from tests.conftest import jobs_during

ROWS = (
    "point_id string, embedding array<double>, user_id string, ts double, "
    "metadata map<string,string>"
)
VECS = "point_id string, embedding array<double>"


def _rows(ids, shift=0):
    return [
        (
            f"p{i}",
            [float(i % 5) + 1.0, 1.0, 0.5, float(i % 3)],
            f"u{(i + shift) % 6}",
            1.0,
            {"k": "v"},
        )
        for i in ids
    ]


def _store(spark, tmp_path, n=40):
    return VectorStore.create(
        spark, str(tmp_path / "s"), local_frame(spark, _rows(range(n)), ROWS)
    )


def test_single_mutations_start_no_more_jobs_than_before(spark, tmp_path):
    store = _store(spark, tmp_path)
    calls = [
        # (name, call, expected return, job bound measured before the merge)
        (
            "upsert",
            lambda: store.upsert(local_frame(spark, _rows([1, 2, 99], 1), ROWS)),
            3,
            3,
        ),
        (
            "set_payload",
            lambda: store.set_payload(["p3", "p4", "p5"], {"tier": "gold"}),
            3,
            4,
        ),
        ("delete_by_id", lambda: store.delete_by_id(["p6", "p7"]), 2, 4),
        (
            "update_vectors",
            lambda: store.update_vectors(
                local_frame(
                    spark,
                    [("p8", [1.0, 2.0, 3.0, 4.0]), ("p9", [4.0, 3.0, 2.0, 1.0])],
                    VECS,
                )
            ),
            2,
            9,
        ),
    ]
    for name, call, want, bound in calls:
        jobs, got = jobs_during(spark, call)
        assert got == want, name
        assert len(jobs) <= bound, (name, len(jobs), bound)
    # 40 rows, 2 deleted, 1 upserted new
    assert store.count() == 39


def _publish_sites():
    tree = ast.parse(inspect.getsource(store_mod))
    cls = next(
        n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "VectorStore"
    )
    return {
        fn.name
        for fn in cls.body
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "_publish_manifest"
    }


def test_manifest_is_published_only_at_the_commit_sites():
    assert _publish_sites() == {
        "create",
        "clone",
        "restore",
        "add_batch",
        "compact",
        "delete_user",
        "_apply_rewrite_group",
        "_apply_upsert_group",
    }


def test_solo_ops_push_their_filter_to_the_scan(spark, tmp_path, monkeypatch):
    store = _store(spark, tmp_path)
    frame_cls = type(spark.range(1))
    collect = frame_cls.collect
    pushed: list[str] = []

    def _recording_collect(self):
        plan = self._jdf.queryExecution().sparkPlan().toString()
        pushed.extend(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
        return collect(self)

    monkeypatch.setattr(frame_cls, "collect", _recording_collect)
    for call, want in [
        (lambda: store.set_payload(["p1", "p2"], {"a": "b"}), "In(point_id"),
        (lambda: store.delete_by_id(["p3"]), "EqualTo(point_id,p3)"),
        (lambda: store.delete_where("user_id = 'u1'"), "EqualTo(user_id,u1)"),
    ]:
        pushed.clear()
        call()
        assert any(want in p for p in pushed), (want, pushed)


def test_update_vectors_and_upsert_store_vectors_as_asked(spark, tmp_path):
    store = _store(spark, tmp_path, n=4)

    def vec(pid):
        row = store.read().filter(f"point_id = '{pid}'").first()
        return list(row["embedding"])

    raw = [3.0, 4.0, 0.0, 0.0]
    assert store.update_vectors(
        local_frame(spark, [("p1", raw)], VECS), normalize=False
    ) == 1
    assert vec("p1") == raw
    assert store.update_vectors(local_frame(spark, [("p2", raw)], VECS)) == 1
    assert vec("p2") == pytest.approx([0.6, 0.8, 0.0, 0.0])
    assert store.upsert(
        local_frame(spark, [("p3", raw, "u1", 1.0, {})], ROWS), normalize=False
    ) == 1
    assert vec("p3") == raw
    # a NULL request vector counts as matched and keeps the stored vector
    before = vec("p0")
    assert store.update_vectors(local_frame(spark, [("p0", None)], VECS)) == 1
    assert vec("p0") == before
