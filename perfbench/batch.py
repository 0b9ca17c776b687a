"""batch_registry: a fixed, named subset of the workload registry over
seeded tables, rows in a seeded order, one client."""

from __future__ import annotations

import os
import sys
import time

import numpy as np

import gen
from rounds import Rounds

# Table-only rows, bound by per-query fixed cost (plan building, schema
# inference, one small job or two).
FIXED_COST_ROWS = (
    "knn_filtered",
    "scroll_keyset",
    "count_filtered",
    "store_search_api",
)
# Compute- or job-heavy rows: quantized search with exact rescoring, and an
# upsert committed to a clone of the corpus store.
HEAVY_ROWS = (
    "int8_rescore_topk",
    "upsert_merge",
)
ROWS = FIXED_COST_ROWS + HEAVY_ROWS
WARMUP_PASSES = 5
MIN_PASSES = 3  # timed passes, so that the median pass is one of them


class _Collected:
    """Rows already collected from a registry query, shaped like the
    DataFrame ``tests/parity.check`` consumes (``columns``, ``collect()``),
    so the oracle check runs on exactly the rows the query returned."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def _int8_recall(rows, sf_dir: str) -> float:
    """Recall@10 of ``int8_rescore_topk`` against exact NumPy cosine top-10
    over the generated embeddings (probes are vec_id < N_QUERIES)."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pydict()
    ids = np.array(t["vec_id"])
    mat = gen.normalize(np.array(t["embedding"], dtype=np.float64))
    got: dict[int, set] = {}
    for r in rows:
        got.setdefault(r["q_id"], set()).add(r["vec_id"])
    hits = 0
    for q, found in got.items():
        s = mat @ mat[list(ids).index(q)]
        exact = {ids[n] for n in sorted(range(len(ids)), key=lambda n: (-s[n], ids[n]))[:10]}
        hits += len(found & exact)
    return hits / (10 * len(got))


def run(ctx) -> None:
    spark, tracer, rng, res = ctx.spark, ctx.tracer, ctx.rng, ctx.result
    sys.path.insert(0, os.path.join(ctx.root, "tests"))
    import parity

    from robi_biometric_qdrant_vector_db_service_spark.sources.catalog import warm_hot_cache
    from robi_biometric_qdrant_vector_db_service_spark.workload import REGISTRY, QuerySpec, _release_scratch

    # the tables are fixed (like the seed-42 corpus of TESTDATA.md); the run's
    # seed shuffles the row order
    sf_dir = os.path.join(ctx.work, "tables")
    gen.write_tables(np.random.default_rng(gen.TABLE_SEED), sf_dir)
    order = [ROWS[i] for i in rng.permutation(len(ROWS))]

    t0 = time.perf_counter()
    warm_hot_cache(spark, sf_dir)
    res.setup["warm_hot_cache_s"] = time.perf_counter() - t0

    # warm-up passes, part of set-up: each row's first run stages its
    # layouts and compiles its plans; its output is checked against the
    # DuckDB oracle and its value hash pins every later run of the row.
    # Rows keep getting faster over the first passes while the JIT
    # compiles, so the timed loop starts after WARMUP_PASSES.
    pinned: dict[str, str] = {}

    def check_hash(name, df, rows) -> None:
        got = parity.value_hash(df.columns, [tuple(r) for r in rows])
        res.record(f"row:{name}", [] if got == pinned[name] else [f"{name}: output differs from the checked run"])

    warm_ms: dict[str, float] = {}
    for p in range(WARMUP_PASSES):
        for name in order:
            spec = REGISTRY[name]
            _release_scratch()
            t0 = time.perf_counter()
            df = spec.run(spark, sf_dir)
            rows = df.collect()
            warm_ms[name] = warm_ms.get(name, 0.0) + (time.perf_counter() - t0) * 1e3
            if p > 0:
                check_hash(name, df, rows)
                continue
            out: dict = {}
            errs = parity.check(
                spark, name, QuerySpec(run=lambda *_: _Collected(df.columns, rows), oracle=spec.oracle),
                sf_dir, out,
            )
            if not out.get("rows"):
                errs.append(f"{name}: returned no rows")
            res.record(f"row:{name}", errs)
            pinned[name] = out.get("hash")
    res.setup["warmup_passes_s"] = sum(warm_ms.values()) / 1e3
    res.extra["warmup_ms"] = warm_ms

    lat: dict[str, list[float]] = {}
    recall_rows = None
    # whole passes, so every row is sampled equally often, and at least
    # MIN_PASSES, so that traced runs trace each row in one of them and a
    # slow pass is not the median one; passes the host stole from are
    # left out (rounds.py)
    passes = Rounds(ctx.seconds, MIN_PASSES)
    while passes.more():
        p = len(passes.rounds)
        with passes.round() as rnd:
            for i, name in enumerate(order):
                traced = ctx.trace and (i + p) % 2 == 1
                spec = REGISTRY[name]
                # a registry run first releases the frames its predecessor
                # cached; do that before the row's timer so that a row's
                # latency does not depend on the seeded order (the pass wall
                # keeps it)
                t0 = time.perf_counter()
                _release_scratch()
                rnd["s"] += time.perf_counter() - t0
                with tracer.request("row", traced):
                    t0 = time.perf_counter()
                    with tracer.span("workload.build"):
                        df = spec.run(spark, sf_dir)
                    with tracer.span("workload.collect"):
                        rows = df.collect()
                    dt = time.perf_counter() - t0
                rnd["s"] += dt
                rnd["ms"].append(dt * 1e3)
                lat.setdefault(name, []).append(dt * 1e3)
                (ctx.traced_ms if traced else ctx.untraced_ms).setdefault(name, []).append(dt * 1e3)
                check_hash(name, df, rows)
                if name == "int8_rescore_topk":
                    recall_rows = rows

    # medians over the kept passes and their row runs, so that one slow
    # pass or run moves neither; every row runs equally often
    res.per_row_ms = {n: float(np.median(v)) for n, v in lat.items()}
    res.e2e.update(
        ops_per_s=len(order) / passes.median_s(),
        request_p50_ms=np.median(passes.latencies_ms()),
        int8_recall_at_10=_int8_recall(recall_rows, sf_dir),
    )
    res.samples.update(rows=len(order), passes=len(passes.rounds), kept=len(passes.kept()))
    res.series = {n: [round(x, 1) for x in v] for n, v in lat.items()}
    res.extra.update(batch_wall_s=passes.median_s(), rounds=passes.summary())
    res.timed_s = passes.busy()
