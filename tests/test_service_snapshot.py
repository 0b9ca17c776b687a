"""``VectorService`` serves searches from one warm snapshot: the current
manifest version's rows, persisted between requests.

- Every search reads the version ``_LATEST`` names when it starts: after
  ``add``, ``delete_point``, ``delete_user``, a write through a second
  ``VectorStore`` on the same root, and a restore of an older version's
  files (a new version, as Delta's RESTORE commits one), each search kind
  returns exactly the new version's points.
- A version is persisted by its first search when the version before it
  served more than ``SNAPSHOT_AFTER_SEARCHES`` searches, and otherwise by
  the search after that many: with a write before every search or every
  other search, every search reads the files and nothing is persisted.
- Old snapshots are released: over those version changes the session's
  persistent RDDs grow by at most one, and ``close()`` releases the last,
  also when it runs while a search holds the snapshot.
- A search racing commits on another thread returns the rows of exactly
  one version.
- ``/stats`` and ``/metrics`` report the snapshot's version and how many
  searches built it, reused it or read the files.
"""

from __future__ import annotations

import os
import sys
import threading

import numpy as np
import pytest

from robi_biometric_qdrant_vector_db_service_spark.api.service import (
    SNAPSHOT_AFTER_SEARCHES,
    VectorService,
)
from robi_biometric_qdrant_vector_db_service_spark.operators.store import VectorStore

DIM = 8
VECS = np.random.default_rng(11).normal(size=(64, DIM))
KINDS = {
    "plain": {},
    "user_filter": {"user_filter": "u1"},
    "int8": {"quantization": "int8"},
    "binary": {"quantization": "binary"},
}


def _persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _batch(lo: int, hi: int, users=("u0", "u1")) -> dict:
    return {
        "embeddings": VECS[lo:hi].tolist(),
        "user_ids": [users[n % len(users)] for n in range(lo, hi)],
        "point_ids": [f"p{n:02d}" for n in range(lo, hi)],
    }


def _expected(store: VectorStore, kind: str) -> set[str]:
    """The current version's points a search of ``kind`` can return, read
    from its files."""
    rows = store.read().select("point_id", "user_id").collect()
    user = KINDS[kind].get("user_filter")
    return {r["point_id"] for r in rows if user is None or r["user_id"] == user}


def _searched(svc: VectorService, kind: str) -> set[str]:
    # k and oversample cover the store, so a search returns every point
    body = {"embedding": VECS[0].tolist(), "k": 64, "oversample": 1, **KINDS[kind]}
    return {r["id"] for r in svc.search(body)["results"]}


@pytest.fixture
def svc(spark, tmp_path):
    service = VectorService(spark, str(tmp_path / "store"))
    service.add_batch(_batch(0, 12))
    yield service
    service.close()


def test_every_search_sees_the_current_version(spark, svc):
    other = VectorStore(spark, svc.store.root)  # a second writer, same root

    def restore_first_version():
        # republish version 1's files as the newest version
        old = svc.store._read_manifest(1)
        svc.store._publish_manifest(old, svc.store._read_file_stats(1))

    writes = {
        "add": lambda: svc.add(
            {"embedding": VECS[20].tolist(), "user_id": "u1", "point_id": "p20"}
        ),
        "delete_point": lambda: svc.delete_point("p03"),
        "delete_user": lambda: svc.delete_user("u0"),
        "second_store": lambda: other.add_batch(
            svc._rows_df(
                [{"embedding": VECS[21].tolist(), "user_id": "u1", "point_id": "p21"}]
            )[0]
        ),
        "restore": restore_first_version,
    }
    for kind in KINDS:
        assert _searched(svc, kind) == _expected(svc.store, kind), kind
    base = _persistent(spark)
    versions = {svc.store._current_version()}
    for name, write in writes.items():
        write()
        v = svc.store._current_version()
        assert v not in versions, name
        versions.add(v)
        for kind in KINDS:
            want = _expected(svc.store, kind)
            assert _searched(svc, kind) == want, (name, kind)
        assert svc.snapshot_info()["version"] == v, name
        assert _persistent(spark) <= base + 1, name
    assert len(versions) == 1 + len(writes)
    # the restore brought back the first version's twelve points
    assert _searched(svc, "plain") == {f"p{n:02d}" for n in range(12)}

    # the first version's first searches read its files and the next
    # built the snapshot; every later version followed one searched
    # len(KINDS) times, so its first search built it
    assert svc.snapshot_info() == {
        "version": v,
        "builds": 1 + len(writes),
        "reuses": (1 + len(writes)) * (len(KINDS) - 1) - SNAPSHOT_AFTER_SEARCHES + 1,
        "uncached": SNAPSHOT_AFTER_SEARCHES,
    }
    svc.close()
    assert _persistent(spark) <= base
    assert svc.snapshot_info()["version"] is None
    # a search after close builds a new snapshot
    assert _searched(svc, "plain") == _expected(svc.store, "plain")
    assert svc.snapshot_info()["builds"] == 2 + len(writes)


def test_a_write_before_every_search_persists_nothing(spark, svc):
    """Filling a snapshot costs the search that fills it more than reading
    the files, so versions searched once or twice in a row are read from
    their files and nothing is persisted; the next search of a version
    persists it."""
    assert SNAPSHOT_AFTER_SEARCHES >= 2
    base = _persistent(spark)
    for n in range(12, 16):
        svc.add_batch(_batch(n, n + 1))
        for kind in ("plain", "int8")[: 1 + n % 2]:
            assert _searched(svc, kind) == _expected(svc.store, kind), n
        assert svc.snapshot_info()["version"] is None
    assert _persistent(spark) == base
    assert svc.snapshot_info() == {"version": None, "builds": 0, "reuses": 0, "uncached": 6}
    for _ in range(SNAPSHOT_AFTER_SEARCHES - 1):
        assert _searched(svc, "binary") == _expected(svc.store, "binary")
    assert _searched(svc, "user_filter") == _expected(svc.store, "user_filter")
    assert svc.snapshot_info()["builds"] == 1
    assert _persistent(spark) == base + 1


def test_close_while_a_search_holds_the_snapshot(spark, svc):
    """``close()`` during a search leaves the held frame to its holder; a
    search of the same version reuses it and makes it the live snapshot
    again, so it stays reported and persisted after the holder ends."""
    for _ in range(SNAPSHOT_AFTER_SEARCHES + 1):  # persists the version
        _searched(svc, "plain")
    base = _persistent(spark)
    v = svc.store._current_version()
    with svc._snapshot(None, False):  # a search in flight
        svc.close()
        assert svc.snapshot_info()["version"] is None
        assert _searched(svc, "int8") == _expected(svc.store, "int8")
        assert svc.snapshot_info()["version"] == v
    assert _persistent(spark) == base
    assert svc.snapshot_info() == {
        "version": v, "builds": 1, "reuses": 2, "uncached": SNAPSHOT_AFTER_SEARCHES
    }
    assert _searched(svc, "plain") == _expected(svc.store, "plain")
    assert svc.snapshot_info()["builds"] == 1
    svc.close()
    assert _persistent(spark) == base - 1
    assert svc.snapshot_info()["version"] is None


def test_search_racing_commits_reads_one_version(spark, svc):
    """Searches on more threads than cores race a writer whose every
    commit adds one point, so version ``12 + j`` holds p00..p11 plus the
    first ``j`` added points: each search's ids must be exactly such a
    prefix, and the swaps must release every replaced snapshot."""
    added = [f"p{n:02d}" for n in range(12, 18)]
    for _ in range(SNAPSHOT_AFTER_SEARCHES + 1):  # persists the version
        svc.search({"embedding": VECS[0].tolist(), "k": 1})
    base_rdds = _persistent(spark)
    done = threading.Event()
    seen: list[tuple[str, set[str]]] = []
    errors: list[Exception] = []

    def writer():
        try:
            for n in range(12, 18):
                svc.add_batch(_batch(n, n + 1))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)
        finally:
            done.set()

    def searcher(kind: str):
        try:
            while not done.is_set():
                seen.append((kind, _searched(svc, kind)))
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=writer)] + [
        threading.Thread(target=searcher, args=(("plain", "int8")[n % 2],))
        for n in range((os.cpu_count() or 1) + 1)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert seen
    base = {f"p{n:02d}" for n in range(12)}
    for kind, ids in seen:
        j = len(ids) - len(base)
        assert 0 <= j <= len(added) and ids == base | set(added[:j]), (kind, sorted(ids))
    assert _searched(svc, "plain") == base | set(added)
    assert _persistent(spark) <= base_rdds


def test_stats_and_metrics_report_the_snapshot(svc):
    assert svc.stats()["snapshot"] == {
        "version": None, "builds": 0, "reuses": 0, "uncached": 0
    }
    for n in range(SNAPSHOT_AFTER_SEARCHES + 2):
        _searched(svc, ("plain", "int8")[n % 2])
    v = svc.store._current_version()
    assert svc.stats()["snapshot"] == {
        "version": v, "builds": 1, "reuses": 1, "uncached": SNAPSHOT_AFTER_SEARCHES
    }
    samples = dict(
        line.rsplit(" ", 1)
        for line in svc.metrics_text().splitlines()
        if line.startswith("service_snapshot_")
    )
    assert samples == {
        "service_snapshot_version": str(v),
        "service_snapshot_builds_total": "1",
        "service_snapshot_reuses_total": "1",
        "service_snapshot_uncached_total": str(SNAPSHOT_AFTER_SEARCHES),
    }
