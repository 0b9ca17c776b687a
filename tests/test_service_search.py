"""``VectorService.search`` sends its one embedding to ``search_corpus``
as a vector: a folded literal probe, ranked by ``TakeOrderedAndProject``,
with each hit's payload read by the one ranked scan of the service's warm
snapshot (the current version's rows, persisted in memory).

- Job and stage counts: every search (plain, user filter, threshold,
  int8, binary) starts one Spark job, warm or not: the search that builds
  a version's snapshot (the first after a write, once the version before
  served more than ``SNAPSHOT_AFTER_SEARCHES``) fills it inside that job,
  and a search that reads the files runs the same one.  An exact search
  is one stage; a quantized one two (stage 1's take per partition, then
  its merge with stage 2's rescore and take).
- Plan shape: every plan scans the cached relation once, with
  ``embedding`` and the payload in its one output, and has no join and no
  exchange of any kind.  The exact plan has one ``TakeOrderedAndProject``
  and as many cosine folds with a threshold as without; a quantized plan
  has two, stage 1's scan projection computes only the int8/Hamming score
  (its one fold) and the probe's codes are a literal, not derived per row.
  No plan partitions on ``q_id``, range-partitions, or joins on
  ``point_id``.
- Differential: ``keep=`` returns the rows that joining the hits onto
  the corpus payload by ``point_id`` returns, and the single-vector form
  returns the frame form's rows, on data with a score tie, an empty
  result and an empty metadata map, and for quantized search on a corpus
  whose twin vectors straddle stage 1's ``oversample × k`` cut, a user
  with fewer points than the cut, ``k`` above the corpus size and a
  threshold above every score.
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
from tests.conftest import jobs_during, stages_of

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
STAGES = {"plain": 1, "user_filter": 1, "threshold": 1, "int8": 2, "binary": 2}
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
    assert len(jobs) == 1, (kind, jobs)
    assert stages_of(spark, jobs) == STAGES[kind], kind


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_first_search_after_a_write_job_count(spark, tmp_path, kind):
    """A version's first ``SNAPSHOT_AFTER_SEARCHES`` searches read the
    files and the next builds the snapshot; after a version searched more
    often, the next version's first search builds it, and after one
    searched less often, it reads the files.  Each of them runs a warm
    search's one job and stage count."""
    service = VectorService(spark, str(tmp_path / "store"))

    def search(builds: int) -> None:
        jobs, resp = jobs_during(spark, lambda: service.search(_body(kind)))
        assert service.snapshot_info()["builds"] == builds, kind
        assert resp["total_results"] > 0, kind
        assert len(jobs) == 1, (kind, builds, jobs)
        # a quantized search over one partition merges no partial takes
        assert stages_of(spark, jobs) <= STAGES[kind], (kind, builds)

    try:
        service.add({"embedding": VECS[0].tolist(), "user_id": "u1"})
        for _ in range(SNAPSHOT_AFTER_SEARCHES):
            search(0)  # the files
        search(1)
        service.add({"embedding": VECS[1].tolist(), "user_id": "u1"})
        search(2)  # replaces a warm snapshot
        for _ in range(SNAPSHOT_AFTER_SEARCHES):
            search(2)  # warm
        service.add({"embedding": VECS[2].tolist(), "user_id": "u1"})
        search(3)
        service.add({"embedding": VECS[3].tolist(), "user_id": "u1"})
        search(3)  # after a version searched once: the files
    finally:
        service.close()


def test_search_reads_the_corpus_once(svc, monkeypatch):
    """The plan the service collects is the hits plan ``search_corpus``
    built from the request's vector over the cached snapshot: one scan of
    it, no parquet scan outside the cached relation, no join, broadcast
    or shuffle, and each corpus row folds only what its stage scores."""
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
    folds = {}
    for kind, (quant, hits, plan), done in zip(sorted(KINDS), built, collected):
        assert done is hits, quant  # the service collects the hits as built
        assert "rangepartitioning" not in plan, plan
        assert "hashpartitioning(q_id" not in plan, plan
        assert not re.search(r"keys \[\d+\]: \[point_id", plan), plan
        assert not re.search(r"^\(\d+\) \w*Join", plan, re.M), plan
        # scan → score(s) → take(s): no shuffle, no broadcast
        assert "Exchange" not in plan, plan
        # the one scan reads the one cached relation, and the plan's one
        # parquet scan is the one that fills it
        assert len(re.findall(r"^\(\d+\) InMemoryRelation$", plan, re.M)) == 1, plan
        assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan
        (cached,) = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
        assert "e8:" in cached and "bq_code:" in cached, cached
        (scan,) = [
            sorted(re.sub(r"#\d+", "", c) for c in cols.split(", "))
            for cols in re.findall(
                r"^\(\d+\) InMemoryTableScan\nOutput \[\d+\]: \[([^\]]*)\]", plan, re.M
            )
        ]
        assert {"embedding", *PAYLOAD} <= set(scan), scan
        # the id, renamed ``vec_id`` for the quantized operators
        assert len({"point_id", "vec_id"} & set(scan)) == 1, scan
        takes = re.findall(r"^\(\d+\) TakeOrderedAndProject$", plan, re.M)
        folds[kind] = plan.count("aggregate(zip_with(")
        # the probe's codes are one literal computed on the driver, not a
        # quantization of the probe evaluated on every row
        assert "transform(" not in plan, plan
        if quant is None:
            assert len(takes) == 1, plan
            continue
        companion = {"int8": "e8", "binary": "bq_code"}[quant]
        assert companion in scan, scan
        assert len(takes) == 2, plan
        # stage 1's projection under the inner take computes the
        # int8/Hamming score only: one fold, over the companion; the
        # cosine folds over ``embedding`` run on the take's survivors
        (stage1,) = re.findall(
            r"^\(\d+\) Project\nOutput \[\d+\]: \[([^\n]*)\]$", plan, re.M
        )
        assert stage1.count("aggregate(zip_with(") == 1, stage1
        assert f"zip_with({companion}#" in stage1, stage1
        assert "zip_with(embedding#" not in stage1, stage1
    # a threshold folds each row's vector as often as a plain search: the
    # dot product and the row's norm (the probe's norm is a literal)
    assert folds["threshold"] == folds["plain"] == folds["user_filter"] == 2, folds
    assert folds["int8"] == folds["binary"] == 3, folds


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
        got = _single_matching_frame(spark, corpus, vec, K, case, name)
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
    paged = knn_search(corpus, vec, 3, offset=2, corpus_id="point_id")
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


def _single_matching_frame(spark, corpus, vec, k, case, name) -> list[tuple]:
    """The single-vector search's rows as (rank, *payload row), asserted
    equal to the frame form's for ``vec`` as its one query."""
    quant = case.get("quantization")

    def search(queries):
        return st.search_corpus(
            corpus,
            queries,
            k,
            score_threshold=case.get("threshold"),
            quantization=quant,
            keep=PAYLOAD,
        )

    single = search(vec)
    assert single.columns == ["point_id", "score", *PAYLOAD], single.columns
    got = [(rank, *_payload_row(r)) for rank, r in enumerate(single.collect(), 1)]
    probe = local_frame(spark, [(0, vec)], "q_id bigint, q_emb array<double>")
    want = sorted((r["rank"], *_payload_row(r)) for r in search(probe).collect())
    assert got == want, name
    return got


def test_quantized_single_vector_edge_cases_match_the_frame_form(spark, tmp_path):
    """Quantized edge cases, int8 and binary, with and without a
    threshold, on a corpus (not normalized) built so that stage 1 ranks
    14 decoys first and then two twin vectors, tied, across the
    ``oversample × k`` = 15 cut: the twins' int8 dot product is small
    (0.3 × the probe, one sign flipped) and their Hamming distance 1,
    the decoys' dot product large and their distance 0, while exact
    cosine ranks the twins first.  Only the twin with the smaller id
    survives stage 1, so it alone is the top hit.  Also a user with fewer
    points than the cut, ``k`` above the corpus size and a threshold
    above every score."""
    rng = np.random.default_rng(11)
    probe = rng.normal(size=DIM)
    probe /= np.linalg.norm(probe)
    sign = np.where(probe > 0, 1.0, -1.0)
    twin = 0.3 * probe
    flip = np.argmin(np.abs(probe))
    twin[flip] = -twin[flip]
    decoys = [0.9 * sign * rng.uniform(0.8, 1.0, DIM) for _ in range(14)]
    fillers = [-sign * rng.uniform(0.1, 1.0, DIM) for _ in range(10)]
    # below the twins in both stage-1 rankings: a smaller scale, and the
    # signs of the probe's two largest elements flipped
    flipped = probe.copy()
    flipped[np.argsort(-np.abs(probe))[:2]] *= -1
    few = [scale * flipped for scale in (0.05, 0.06, 0.07)]
    vecs = [*decoys, twin, twin, *fillers, *few]
    ids = [f"d{n:02d}" for n in range(14)] + ["t0", "t1"]
    ids += [f"f{n:02d}" for n in range(10)] + [f"s{n}" for n in range(3)]
    users = ["a"] * 16 + ["b"] * 10 + ["few"] * 3
    cos = {i: v @ probe / np.linalg.norm(v) for i, v in zip(ids, vecs)}
    assert cos["t0"] > max(cos[f"d{n:02d}"] for n in range(14))  # the setup

    store = st.VectorStore.create(spark, str(tmp_path / "store"))
    store.add_batch(
        local_frame(
            spark,
            [(i, v.tolist(), u) for i, v, u in zip(ids, vecs, users)],
            "point_id string, embedding array<double>, user_id string",
        ),
        normalize=False,
    )
    top = max(cos.values())
    for quant in ("int8", "binary"):
        for threshold in (None, 0.2):
            case = {"quantization": quant, "threshold": threshold}
            name = f"{quant}_{threshold}"
            full = store.read(with_index=True)
            got = _single_matching_frame(spark, full, probe.tolist(), K, case, name)
            assert [r[1] for r in got][:1] == ["t0"], (name, got)
            assert "t1" not in [r[1] for r in got], (name, got)
            few_rows = _single_matching_frame(
                spark, store.read(user_id="few", with_index=True),
                probe.tolist(), K, case, f"{name}_few",
            )
            assert {r[1] for r in few_rows} <= {"s0", "s1", "s2"}, few_rows
            assert len(few_rows) == sum(
                threshold is None or round(cos[f"s{n}"], 6) >= threshold
                for n in range(3)
            ), few_rows
            everything = _single_matching_frame(
                spark, full, probe.tolist(), 40, case, f"{name}_k40"
            )
            assert len(everything) == sum(
                threshold is None or round(c, 6) >= threshold for c in cos.values()
            ), (name, len(everything))
        above = {"quantization": quant, "threshold": round(top, 6) + 1e-3}
        got = _single_matching_frame(
            spark, store.read(with_index=True), probe.tolist(), K, above,
            f"{quant}_above_all",
        )
        assert got == [], got


def _payload_row(r) -> tuple:
    return (
        r["point_id"],
        r["score"],
        r["user_id"],
        sorted((r["metadata"] or {}).items()),
        r["ts"],
    )
