"""``VectorService.search`` sends its one embedding to ``search_corpus``
as a vector: a folded literal probe, ranked by ``TakeOrderedAndProject``,
with each hit's payload read by the one ranked scan of the service's warm
snapshot (the current version's rows, persisted in memory).

- Job counts: a warm exact search (plain, user filter, threshold) starts
  one Spark job (scan, score, threshold, take); a warm int8 or binary
  search two (stage 1's take builds stage 2's broadcast).  The search
  that builds a version's snapshot (the first after a write, once the
  version before served more than ``SNAPSHOT_AFTER_SEARCHES``) fills it
  inside its own jobs: still one for an exact search, four for a
  quantized one (adaptive execution materializes each of its two cached
  scans as a job of its own).  A search that reads the files instead runs
  the warm job counts.
- Plan shape: the exact plan scans the cached relation once, with
  ``embedding`` and the payload in its one output, and has no exchange of
  any kind; a quantized plan scans it twice, stage 1 reading only
  (point_id, companion) and no ``embedding``, stage 2 ``embedding`` and
  the payload, joined by one broadcast hash join on ``vec_id``; the
  probe's codes are a literal, not derived per row.  No plan partitions
  on ``q_id``, range-partitions, or joins on ``point_id``.
- Differential: ``keep=`` returns the rows that joining the hits onto
  the corpus payload by ``point_id`` returns, and the single-vector form
  returns the frame form's rows, on data with a score tie, an empty
  result and an empty metadata map.
"""

from __future__ import annotations

import re

import numpy as np
import pytest

from robi_biometric_qdrant_vector_db_service_spark.api.service import (
    SNAPSHOT_AFTER_SEARCHES,
    VectorService,
)
from robi_biometric_qdrant_vector_db_service_spark.operators import store as st
from robi_biometric_qdrant_vector_db_service_spark.session import local_frame
from tests.conftest import jobs_during

PAYLOAD = ("user_id", "metadata", "ts")
N, DIM, K = 40, 16, 5
# request fields per search kind
KINDS = {
    "plain": {},
    "user_filter": {"user_filter": "u1"},
    "threshold": {"threshold": 0.2},
    "int8": {"quantization": "int8"},
    "binary": {"quantization": "binary"},
}
MAX_JOBS = {"plain": 1, "user_filter": 1, "threshold": 1, "int8": 2, "binary": 2}
# the first search after a write also fills the new snapshot
MAX_JOBS_AFTER_WRITE = {**MAX_JOBS, "int8": 4, "binary": 4}
VECS = np.random.default_rng(7).normal(size=(N, DIM))
VECS[1] = VECS[0]


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def svc(spark, tmp_path_factory):
    """40 points over 4 users; ``p00`` and ``p01`` share one vector (a
    score tie broken by id) and ``p02`` has an empty metadata map."""
    service = VectorService(spark, str(tmp_path_factory.mktemp("svc") / "store"))
    service.add_batch(
        {
            "embeddings": VECS.tolist(),
            "user_ids": [f"u{n % 4}" for n in range(N)],
            "point_ids": [f"p{n:02d}" for n in range(N)],
            "metadata_list": [{} if n == 2 else {"n": str(n)} for n in range(N)],
        }
    )
    yield service
    service.close()


def _body(kind: str) -> dict:
    return {"embedding": VECS[0].tolist(), "k": K, **KINDS[kind]}


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_search_job_count(spark, svc, kind):
    for _ in range(SNAPSHOT_AFTER_SEARCHES + 1):  # persists the version
        svc.search(_body(kind))
    jobs, resp = jobs_during(spark, lambda: svc.search(_body(kind)))
    assert resp["total_results"] > 0, kind
    assert len(jobs) <= MAX_JOBS[kind], (kind, jobs)


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_first_search_after_a_write_job_count(spark, tmp_path, kind):
    """A version's first ``SNAPSHOT_AFTER_SEARCHES`` searches read the
    files and the next builds the snapshot; after a version searched more
    often, the next version's first search builds it, and after one
    searched less often, it reads the files, at a warm search's job
    count."""
    service = VectorService(spark, str(tmp_path / "store"))

    def search(builds: int, max_jobs: int) -> None:
        jobs, resp = jobs_during(spark, lambda: service.search(_body(kind)))
        assert service.snapshot_info()["builds"] == builds, kind
        assert resp["total_results"] > 0, kind
        assert len(jobs) <= max_jobs, (kind, builds, jobs)

    try:
        service.add({"embedding": VECS[0].tolist(), "user_id": "u1"})
        for _ in range(SNAPSHOT_AFTER_SEARCHES):
            search(0, MAX_JOBS[kind])  # the files
        search(1, MAX_JOBS_AFTER_WRITE[kind])
        service.add({"embedding": VECS[1].tolist(), "user_id": "u1"})
        search(2, MAX_JOBS_AFTER_WRITE[kind])  # replaces a warm snapshot
        for _ in range(SNAPSHOT_AFTER_SEARCHES):
            search(2, MAX_JOBS[kind])  # warm
        service.add({"embedding": VECS[2].tolist(), "user_id": "u1"})
        search(3, MAX_JOBS_AFTER_WRITE[kind])
        service.add({"embedding": VECS[3].tolist(), "user_id": "u1"})
        search(3, MAX_JOBS[kind])  # after a version searched once: the files
    finally:
        service.close()


def test_search_reads_the_corpus_once_per_stage(svc, monkeypatch):
    """The plan the service collects is the hits plan ``search_corpus``
    built from the request's vector over the cached snapshot: no parquet
    scan outside the cached relation, no second corpus scan, no join back
    on ``point_id``, no range-partitioned sort, no per-query shuffle."""
    built, collected = [], []
    frame_cls = type(svc.store.read())  # the session's concrete DataFrame
    real_search, real_collect = st.search_corpus, frame_cls.collect

    def spy(*args, **kwargs):
        out = real_search(*args, **kwargs)
        built.append((kwargs.get("quantization"), out, _plan(out)))
        return out

    def collect(self):
        collected.append(self)
        return real_collect(self)

    for _ in range(SNAPSHOT_AFTER_SEARCHES + 1):  # persists the version
        svc.search(_body("plain"))
    monkeypatch.setattr(st, "search_corpus", spy)
    monkeypatch.setattr(frame_cls, "collect", collect)
    for kind in sorted(KINDS):
        svc.search(_body(kind))
    assert len(built) == len(collected) == len(KINDS)
    for (quant, hits, plan), done in zip(built, collected):
        assert done is hits, quant  # the service collects the hits as built
        assert "rangepartitioning" not in plan, plan
        assert "hashpartitioning(q_id" not in plan, plan
        takes = re.findall(r"^\(\d+\) TakeOrderedAndProject", plan, re.M)
        assert not re.search(r"keys \[\d+\]: \[point_id", plan), plan
        equi_joins = re.findall(
            r"^\(\d+\) (BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan, re.M
        )
        # every stage scans the one cached relation, and the plan's one
        # parquet scan is the one that fills it
        relations = re.findall(r"^\(\d+\) InMemoryRelation\n([^\n]*)", plan, re.M)
        assert len({re.sub(r"#\d+", "", r) for r in relations}) == 1, relations
        assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan
        (cached,) = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
        assert "e8:" in cached and "bq_code:" in cached, cached
        scans = [
            sorted(re.sub(r"#\d+", "", c) for c in cols.split(", "))
            for cols in re.findall(
                r"^\(\d+\) InMemoryTableScan\nOutput \[\d+\]: \[([^\]]*)\]", plan, re.M
            )
        ]
        with_vec = [c for c in scans if "embedding" in c]
        assert len(with_vec) == 1, (quant, scans)
        assert set(PAYLOAD) <= set(with_vec[0]), with_vec
        if quant is None:
            assert len(scans) == 1, scans
            assert equi_joins == [], plan
            # scan → score → threshold → take: no shuffle, no broadcast
            assert "Exchange" not in plan, plan
            assert len(takes) == 1, plan
        else:
            # stage 1 scans only (point_id, companion); stage 2's broadcast
            # survivor join, keyed on vec_id, is the plan's one equi-join
            assert len(scans) == 2, scans
            (stage1,) = [c for c in scans if "embedding" not in c]
            assert stage1 == sorted(["point_id", {"int8": "e8", "binary": "bq_code"}[quant]])
            assert equi_joins == ["BroadcastHashJoin"], plan
            assert re.search(r"Left keys \[1\]: \[vec_id#", plan), plan
            # the probe's codes are one literal computed on the driver,
            # not a quantization of the probe evaluated on every row
            assert "transform(" not in plan, plan


def _rows(df) -> list[tuple]:
    return sorted(
        (
            r["q_id"],
            r["rank"],
            r["point_id"],
            r["score"],
            r["user_id"],
            sorted((r["metadata"] or {}).items()),
            r["ts"],
        )
        for r in df.collect()
    )


def test_keep_matches_the_enrichment_join(spark, svc):
    probes = local_frame(
        spark,
        [(q, v.tolist()) for q, v in enumerate((VECS[0], VECS[2], -VECS[5]))],
        "q_id bigint, q_emb array<double>",
    )
    # q2 matches no point exactly, so a threshold just above its best
    # score is above every score it has
    far = probes.filter("q_id = 2")
    best = max(r["score"] for r in st.search_corpus(svc.store.read(), far, 1).collect())
    cases = {
        **{kind: (probes, KINDS[kind]) for kind in KINDS},
        "threshold_above_all": (far, {"threshold": best + 1e-3}),
    }
    for name, (queries, case) in cases.items():
        quant = case.get("quantization")
        corpus = svc.store.read(
            user_id=case.get("user_filter"), with_index=quant is not None
        )

        def search(**kw):
            return st.search_corpus(
                corpus,
                queries,
                K,
                score_threshold=case.get("threshold"),
                quantization=quant,
                **kw,
            )

        carried = _rows(search(keep=PAYLOAD))
        joined = _rows(search().join(corpus.select("point_id", *PAYLOAD), "point_id"))
        assert carried == joined, name
        if name == "threshold_above_all":
            assert carried == [], carried
            continue
        assert carried, name
        if "user_filter" not in case:
            # the tie: p00 and p01 share q0's vector, ranked by id
            assert [r[2] for r in carried if r[0] == 0][:2] == ["p00", "p01"], name
            # q1 is p02's vector, whose metadata map is empty
            assert any(r[2] == "p02" and r[5] == [] for r in carried), name


def test_service_results_keep_score_then_id_order(svc):
    for kind in sorted(KINDS):
        results = svc.search(_body(kind))["results"]
        assert results, kind
        keys = [(-r["score"], r["id"]) for r in results]
        assert keys == sorted(keys), (kind, keys)
        if kind != "user_filter":
            assert [r["id"] for r in results[:2]] == ["p00", "p01"], kind


def test_single_vector_matches_the_frame_form(spark, svc):
    """``search_corpus(corpus, vector)`` returns, in rank order, the rows
    the frame form ranks for that vector as its one query, with equal
    scores and payload; ``knn_search`` pages by ``offset`` alike."""
    from robi_biometric_qdrant_vector_db_service_spark.functions.vector import (
        probe_literal,
    )
    from robi_biometric_qdrant_vector_db_service_spark.operators.search import (
        knn_search,
    )

    far = (-VECS[5]).tolist()
    best = max(
        r["score"] for r in st.search_corpus(svc.store.read(), far, 1).collect()
    )
    cases = {
        **KINDS,
        "int8_threshold": {"quantization": "int8", "threshold": 0.2},
        "binary_threshold": {"quantization": "binary", "threshold": 0.2},
        "no_such_user": {"user_filter": "nobody"},
        "int8_no_such_user": {"user_filter": "nobody", "quantization": "int8"},
    }
    runs = [(name, v, case) for name, case in cases.items() for v in (0, 2)]
    runs += [
        (name, "far", {**case, "threshold": best + 1e-3})
        for name, case in (("exact_above_all", {}), ("int8_above_all", KINDS["int8"]))
    ]
    for name, which, case in runs:
        vec = far if which == "far" else VECS[which].tolist()
        quant = case.get("quantization")
        corpus = svc.store.read(
            user_id=case.get("user_filter"), with_index=quant is not None
        )

        def search(queries):
            return st.search_corpus(
                corpus,
                queries,
                K,
                score_threshold=case.get("threshold"),
                quantization=quant,
                keep=PAYLOAD,
            )

        single = search(vec)
        assert single.columns == ["point_id", "score", *PAYLOAD], single.columns
        got = [
            (rank, *_payload_row(r)) for rank, r in enumerate(single.collect(), 1)
        ]
        probe = local_frame(spark, [(0, vec)], "q_id bigint, q_emb array<double>")
        want = sorted((r["rank"], *_payload_row(r)) for r in search(probe).collect())
        assert got == want, (name, which)
        if case.get("user_filter") == "nobody" or which == "far":
            assert got == [], (name, got)
            continue
        assert got, (name, which)
        if which == 0 and "user_filter" not in case:
            assert [r[1] for r in got[:2]] == ["p00", "p01"], name  # the tie
        if which == 2 and "user_filter" not in case:
            assert got[0][1] == "p02" and got[0][4] == [], name  # empty map

    corpus = svc.store.read()
    vec = VECS[0].tolist()
    paged = knn_search(corpus, probe_literal(vec), 3, offset=2, corpus_id="point_id")
    frame = knn_search(
        corpus,
        local_frame(spark, [(0, vec)], "q_id bigint, q_emb array<double>"),
        3,
        offset=2,
        corpus_id="point_id",
    )
    assert [(r["point_id"], r["score"]) for r in paged.collect()] == [
        (r["point_id"], r["score"]) for r in sorted(frame.collect(), key=lambda r: r["rank"])
    ]


def _payload_row(r) -> tuple:
    return (
        r["point_id"],
        r["score"],
        r["user_id"],
        sorted((r["metadata"] or {}).items()),
        r["ts"],
    )
