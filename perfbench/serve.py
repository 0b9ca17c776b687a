"""serve_search: one closed-loop client sending ``VectorService.search``
requests to a built store, every response checked against a NumPy brute
force over the generator's own copy of the points."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np

import gen
from rounds import Rounds

K = 10
THRESHOLD = 0.5  # the reference's similar-vector searches (gen.SIMILARITY)
# The request kinds, as counts per block; each block is shuffled by the
# seed, so every run sends nearly the same mix.  The kinds are the
# reference's: top-10 searches (performance_test.py), a user filter
# (simple_test.py:151-170), threshold-0.5 searches with a similar probe
# (performance_test.py:375-394) and INT8 quantized search, which the
# reference applies to every search (qdrant_client.py:129-138).  Their
# equal weights are an assumption: the reference records no per-kind mix.
SEARCH_MIX = {"plain": 1, "user": 1, "threshold": 1, "int8": 1}
BUILDS = 3
WARMUP_ROUNDS = 4
MIN_BLOCKS = 4  # timed blocks, so that the median block is one of them
TOL = 1e-9  # score distance treated as a tie
SCORE_TOL = 2e-6  # service scores are rounded to 6 places


def point_bytes(pid: str, user: str, meta: dict) -> int:
    """What a client submits for one point: the float32 vector, its id,
    user and payload JSON."""
    return gen.DIM * 4 + len(pid) + len(user) + len(json.dumps(meta))


def check_search(corpus: gen.Corpus, body: dict, resp: dict) -> tuple[list[str], float | None]:
    """Errors of one search response, and its recall@k for int8 requests.

    Exact and filtered searches must equal the brute-force top-k ordered by
    (score desc, id); ids whose scores differ by less than ``TOL`` count as
    ties either way round."""
    errs: list[str] = []
    ids = corpus.ids
    q = gen.normalize(np.asarray(body["embedding"]))
    s = corpus.vectors @ q
    elig = np.ones(len(ids), bool)
    if body.get("user_filter") is not None:
        elig &= corpus.users == body["user_filter"]
    maybe = np.zeros(len(ids), bool)
    if body.get("threshold") is not None:
        t = body["threshold"]
        maybe = elig & (np.abs(s - t) < TOL)
        elig &= s >= t + TOL
    k = body.get("k", K)
    pos = {pid: n for n, pid in enumerate(ids)}
    got = [r["id"] for r in resp["results"]]
    if len(set(got)) != len(got):
        errs.append("duplicate ids in results")
    for r in resp["results"]:
        n = pos.get(r["id"])
        if n is None:
            errs.append(f"{r['id']} is not a stored point")
            continue
        if not (elig[n] or maybe[n]):
            errs.append(f"{r['id']} does not satisfy the filter/threshold")
        if abs(r["score"] - s[n]) > SCORE_TOL:
            errs.append(f"{r['id']} score {r['score']} != {s[n]:.6f}")
        if r["user_id"] != corpus.users[n] or r["metadata"] != corpus.metas[n]:
            errs.append(f"{r['id']} payload differs from the one stored")
    if errs:
        return errs, None
    n_elig = int(elig.sum())
    lo, hi = min(k, n_elig), min(k, n_elig + int(maybe.sum()))
    if not lo <= len(got) <= hi:
        errs.append(f"{len(got)} results, expected {lo}..{hi}")
    if body.get("quantization") == "int8":
        exact = sorted(np.flatnonzero(elig), key=lambda n: (-s[n], ids[n]))[:k]
        return errs, len(set(got) & {ids[n] for n in exact}) / max(1, len(exact))
    gs = [s[pos[g]] for g in got]
    if any(b > a + TOL for a, b in zip(gs, gs[1:])):
        errs.append("results are not in score order")
    returned = set(got)
    missed = [s[n] for n in np.flatnonzero(elig) if ids[n] not in returned]
    if gs and missed and max(missed) > min(gs) + TOL:
        errs.append(f"missed a hit scoring {max(missed):.6f} > {min(gs):.6f}")
    return errs, None


def schedule(rng: np.random.Generator, mix: dict):
    """Endless request kinds: blocks holding each kind ``mix[kind]`` times,
    in a seeded order."""
    block = [k for k, n in mix.items() for _ in range(n)]
    while True:
        yield from (block[i] for i in rng.permutation(len(block)))


def search_body(corpus: gen.Corpus, kind: str) -> dict:
    if kind == "threshold":
        parent = corpus.vectors[corpus.rng.integers(len(corpus.ids))]
        vec = corpus.similar(parent[None, :])[0]
    else:
        vec = corpus.gaussian(1)[0]
    body = {"embedding": vec.astype(np.float32).tolist(), "k": K}
    if kind == "user":
        body["user_filter"] = corpus.user()
    elif kind == "threshold":
        body["threshold"] = THRESHOLD
    elif kind == "int8":
        body["quantization"] = "int8"
    return body


def build(spark, root: str, corpus: gen.Corpus):
    """Bulk-load the corpus with ``VectorStore.create`` (which, unlike
    ``add_batch``, stores vectors as given: they arrive normalized), then
    compact.  The input is spread over the cores like a distributed source;
    a driver-local Arrow relation would evaluate the write projection
    on the driver instead."""
    import pyarrow as pa

    from robi_biometric_qdrant_vector_db_service_spark.api.service import VectorService
    from robi_biometric_qdrant_vector_db_service_spark.operators.store import VectorStore

    flat = pa.array(corpus.vectors.ravel())
    table = pa.table(
        {
            "point_id": pa.array(corpus.ids, pa.string()),
            "embedding": pa.FixedSizeListArray.from_arrays(flat, corpus.dim).cast(pa.list_(pa.float64())),
            "user_id": pa.array(corpus.users, pa.string()),
            "ts": pa.array(1.7e9 + np.arange(len(corpus.ids), dtype=np.float64)),
            "metadata": pa.array([list(m.items()) for m in corpus.metas], pa.map_(pa.string(), pa.string())),
        }
    )
    df = spark.createDataFrame(table).repartition(spark.sparkContext.defaultParallelism)
    VectorStore.create(spark, root, df).compact()
    return VectorService(spark, root)


def run(ctx) -> None:
    spark, tracer, work, res = ctx.spark, ctx.tracer, ctx.work, ctx.result
    corpus = gen.Corpus(ctx.rng)

    builds = []
    for b in range(BUILDS):
        root = os.path.join(work, f"store{b}")
        t0 = time.perf_counter()
        svc = build(spark, root, corpus)
        builds.append(time.perf_counter() - t0)
        if b < BUILDS - 1:
            shutil.rmtree(root)
    res.setup["store_build_s"] = statistics.median(builds)

    lat: dict[str, list[float]] = {}  # timed latencies by search kind
    recalls: list[float] = []

    def do_search(kind: str, timed: bool, traced: bool = False) -> float:
        body = search_body(corpus, kind)
        with tracer.request("search", traced):
            t0 = time.perf_counter()
            resp = svc.search(body)
            dt = time.perf_counter() - t0
        errs, recall = check_search(corpus, body, resp)
        res.record(f"search:{kind}", errs)
        if recall is not None:
            recalls.append(recall)
        if timed:
            lat.setdefault(kind, []).append(dt * 1e3)
            (ctx.traced_ms if traced else ctx.untraced_ms).setdefault(kind, []).append(dt * 1e3)
        return dt

    # warm-up, part of set-up: latency keeps falling over the first requests
    # while the JIT compiles the planner
    t0 = time.perf_counter()
    for kind in list(SEARCH_MIX) * WARMUP_ROUNDS:
        do_search(kind, timed=False)
    res.setup["warmup_s"] = time.perf_counter() - t0

    # whole blocks (one shuffled round of the mix), so every kind is sampled
    # equally often, and at least MIN_BLOCKS; blocks the host stole from
    # are left out (rounds.py)
    kinds = schedule(corpus.rng, SEARCH_MIX)
    per_block = sum(SEARCH_MIX.values())
    blocks = Rounds(ctx.seconds, MIN_BLOCKS)
    i = 0
    while blocks.more():
        with blocks.round() as rnd:
            for _ in range(per_block):
                dt = do_search(next(kinds), timed=True, traced=ctx.trace and i % 2 == 1)
                rnd["s"] += dt
                rnd["ms"].append(dt * 1e3)
                i += 1

    n = svc.store.count()
    res.record("final_count", [] if n == len(corpus.ids) else [f"count() {n} != {len(corpus.ids)}"])

    files = svc.store.input_files()
    user_bytes = sum(point_bytes(*p) for p in zip(corpus.ids, corpus.users, corpus.metas))
    every = [x for v in lat.values() for x in v]
    res.e2e.update(
        ops_per_s=per_block / blocks.median_s(),
        request_p50_ms=np.median(blocks.latencies_ms()),
        int8_recall_at_10=float(np.mean(recalls)),
    )
    res.samples.update(search=len(every), blocks=len(blocks.rounds), kept=len(blocks.kept()),
                       int8_recall=len(recalls))
    res.series = {k: [round(x, 1) for x in v] for k, v in lat.items()}
    res.extra.update(
        space_amp=sum(os.path.getsize(f) for f in files) / user_bytes,
        store_live_files=len(files),
        rounds=blocks.summary(),
    )
    res.timed_s = blocks.busy()
