"""S8: the reference's HTTP API surface over the Spark engine.

Routes, request bodies, and response shapes mirror the reference
(src/api/endpoints.py:32-312, src/api/schemas.py:8-122) so a client of the
reference service can point at this facade unchanged:

  POST   /api/v1/vectors/add          {embedding, user_id, metadata?, point_id?}
  POST   /api/v1/vectors/add_batch    {embeddings, user_ids, metadata_list?, point_ids?}
  POST   /api/v1/vectors/search       {embedding, k?, threshold?, user_filter?}
  DELETE /api/v1/vectors/{point_id}
  DELETE /api/v1/vectors/user/{user_id}
  GET    /api/v1/stats | /api/v1/health | /api/v1/info
  GET    /benchmark                   (also under /api/v1) — in-service
         insertion/search/concurrent micro-benchmark graded against the
         reference's <=20 ms search / >=1000 ops/s bars
         (src/main.py:229-259, src/utils/performance.py:258-484)
  GET    /                            service banner (src/main.py:198-214)
  GET    /metrics                     Prometheus text exposition of the
         per-op counters/latency quantiles (src/main.py:216-227,
         src/utils/performance.py:48-100)

Fidelity note — metadata typing: the reference accepts ``Dict[str, Any]``
metadata; this store persists ``map<string,string>``, so non-string values
round-trip as their string form ({"a": 1} comes back {"a": "1"}).  Clients
needing typed values should JSON-encode them; everything else on the wire
(keys, routes, response envelopes) is unchanged.

Implementation: stdlib ``http.server`` (no web framework in this image —
and none needed: the handler is a thin JSON shim; every data operation is
the engine's own DataFrame plan).  The driver process hosts the HTTP
thread pool the way the reference's uvicorn loop hosts its async handlers;
at scale this facade runs on the Spark driver (or a thrift/Connect
gateway) while the heavy lifting stays on the executors.  Store mutations
serialize on a lock — the manifest swap is read-modify-write, which the
reference serializes on its single event loop (main.py) the same way.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.parse
import uuid
from collections import Counter, deque
from collections.abc import Iterator
from contextlib import contextmanager
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

PREFIX = "/api/v1"
# A version's rows are persisted once it or the version before it has
# served more than this many searches: filling the cache costs the search
# that fills it about as much as one and a half warm searches save
# (serve_search store shape, 4 cores), so with fewer searches per version
# reading the files is cheaper.
SNAPSHOT_AFTER_SEARCHES = 2


class VectorService:
    """Engine-backed implementation of the reference's service endpoints.

    Wraps a ``VectorStore`` (operators/store.py); every handler body is the
    corresponding engine operation — the HTTP layer adds only JSON
    (de)serialization, uuid defaults, and latency accounting
    (the reference's performance_stats, utils/performance.py)."""

    def __init__(self, spark: SparkSession, store_root: str):
        from ..operators.store import VectorStore

        self.spark = spark
        self.store = VectorStore.create(spark, store_root)
        self.collection_name = store_root.rstrip("/").rsplit("/", 1)[-1]
        self._write_lock = threading.Lock()
        self._stats_lock = threading.Lock()
        self._op_stats: dict[str, list] = {}  # op -> [count, total_ms]
        # bounded per-op latency ring (the reference keeps its last 1000
        # PerformanceMetrics records, utils/performance.py:130-137) —
        # feeds the p50/p95/p99 quantiles in /stats
        self._op_recent: dict[str, deque] = {}
        self._started = time.time()
        self._errors: dict[str, int] = {}  # error_type -> count (main.py /metrics)
        # the warm snapshot searches share (``_snapshot``): the newest
        # version's persisted read, plus replaced ones that searches still
        # hold, by version, with a hold count each; swapped on a lock of its
        # own, so that no search waits on a commit holding _write_lock.
        # The searches of the newest version searched and of the one before
        # it decide whether that version is persisted.  builds/reuses/uncached
        # feed /stats and /metrics
        self._snap_lock = threading.Lock()
        self._snap_version: int | None = None
        self._frames: dict[int, DataFrame] = {}
        self._holds: Counter[int] = Counter()
        self._seen_version: int | None = None
        self._seen_searches = 0
        self._prev_searches = 0
        self._snap_builds = 0
        self._snap_reuses = 0
        self._snap_uncached = 0

    # -- engine calls -------------------------------------------------------

    def record_error(self, error_type: str) -> None:
        """qdrant_errors_total{error_type=…} counter feed
        (utils/performance.py:57-61)."""
        with self._stats_lock:
            self._errors[error_type] = self._errors.get(error_type, 0) + 1

    def _record(self, op: str, t0: float) -> float:
        ms = (time.perf_counter() - t0) * 1000.0
        with self._stats_lock:  # handlers run on the HTTP thread pool
            c = self._op_stats.setdefault(op, [0, 0.0])
            c[0] += 1
            c[1] += ms
            self._op_recent.setdefault(op, deque(maxlen=1000)).append(ms)
        return ms

    def _rows_df(self, rows: list[dict]):
        data = [
            (
                r.get("point_id") or str(uuid.uuid4()),
                [float(x) for x in r["embedding"]],
                str(r["user_id"]),
                {str(k): str(v) for k, v in (r.get("metadata") or {}).items()},
            )
            for r in rows
        ]
        df = local_frame(
            self.spark,
            data,
            "point_id string, embedding array<double>, user_id string, "
            "metadata map<string,string>",
        )
        return df, [d[0] for d in data]

    def add(self, body: dict) -> dict:
        t0 = time.perf_counter()
        df, ids = self._rows_df([body])
        with self._write_lock:
            self.store.add_batch(df)
        self._record("add", t0)
        return {
            "success": True,
            "point_id": ids[0],
            "message": "Vector added successfully",
            "timestamp": time.time(),
        }

    def add_batch(self, body: dict) -> dict:
        t0 = time.perf_counter()
        embs = body["embeddings"]
        users = body["user_ids"]
        if len(embs) != len(users):
            raise ValueError("embeddings and user_ids must be the same length")
        metas = body.get("metadata_list") or [None] * len(embs)
        pids = body.get("point_ids") or [None] * len(embs)
        # a short optional list would zip-truncate the tail embeddings while
        # still reporting success — reject it instead (ADVICE r5)
        if len(metas) != len(embs):
            raise ValueError("metadata_list must match embeddings length")
        if len(pids) != len(embs):
            raise ValueError("point_ids must match embeddings length")
        rows = [
            {"embedding": e, "user_id": u, "metadata": m, "point_id": p}
            for e, u, m, p in zip(embs, users, metas, pids)
        ]
        df, ids = self._rows_df(rows)
        with self._write_lock:
            n = self.store.add_batch(df)
        self._record("add_batch", t0)
        return {
            "success": True,
            "point_ids": ids,
            "added_count": n,
            "message": f"Added {n} vectors",
            "timestamp": time.time(),
        }

    @contextmanager
    def _snapshot(self, user: str | None, quantized: bool) -> Iterator[DataFrame]:
        """The corpus of the one manifest version this request reads
        (only ``user``'s points if given), held while the request plans and
        runs on it.  Under ``_snap_lock`` the ``_LATEST`` pointer is read
        once (commits only move it forward, so it is never older than the
        live snapshot).  A snapshot of that version is reused; otherwise
        one is built as ``read(version=v, with_index=True).persist()``,
        filled lazily by the search's own jobs, once the version or the one
        before it has served more than ``SNAPSHOT_AFTER_SEARCHES``
        searches; until then the search reads the version's files (only
        ``user``'s bucket, with a user), so with a write before every
        search or every other search nothing is persisted.  A replaced
        snapshot is unpersisted when no search holds it any more: a search
        that plans over a cached frame and runs after its unpersist would
        fill the cache again, and nothing would release those blocks."""
        with self._snap_lock:
            v = self.store._current_version()
            if v != self._seen_version:
                self._prev_searches, self._seen_searches = self._seen_searches, 0
                self._seen_version = v
            self._seen_searches += 1
            searched = max(self._seen_searches, self._prev_searches)
            frame = self._frames.get(v)
            if frame is not None:
                self._snap_reuses += 1
            elif searched > SNAPSHOT_AFTER_SEARCHES:
                frame = self._frames[v] = self.store.read(
                    version=v, with_index=True
                ).persist()
                self._snap_builds += 1
            else:
                self._snap_uncached += 1
            self._snap_version = None if frame is None else v
            if frame is not None:
                self._holds[v] += 1
            self._release_unheld()
        if frame is None:
            yield self.store.read(version=v, user_id=user, with_index=quantized)
            return
        try:
            yield frame if user is None else frame.filter(F.col("user_id") == user)
        finally:
            with self._snap_lock:
                self._holds[v] -= 1
                self._release_unheld()

    def _release_unheld(self) -> None:
        """Unpersist every replaced snapshot no search holds.  Runs under
        ``_snap_lock``, so no search can plan over a frame as it goes."""
        for v in list(self._frames):
            if v == self._snap_version or self._holds[v]:
                continue
            self._holds.pop(v, None)
            self._frames.pop(v).unpersist(blocking=False)

    def snapshot_info(self) -> dict:
        """The warm snapshot's manifest version (None while the newest
        version searched is not persisted, and after ``close``) and how
        many searches built a snapshot, reused one, or read the files."""
        with self._snap_lock:
            return {
                "version": self._snap_version,
                "builds": self._snap_builds,
                "reuses": self._snap_reuses,
                "uncached": self._snap_uncached,
            }

    def close(self) -> None:
        """Release the warm snapshot (a search still holding it releases
        it when it ends).  A later search builds a new one, and a search
        of the same version meanwhile makes the held one live again."""
        with self._snap_lock:
            self._snap_version = None
            self._release_unheld()

    def search(self, body: dict) -> dict:
        t0 = time.perf_counter()
        k = int(body.get("k", 10))
        # One scan of ONE manifest version per request (ADVICE r5):
        # ``_snapshot`` resolves the version once, and the hits carry
        # their payload (user_id, metadata, ts) through the ranking, as
        # the reference's results do, so search and payload cannot
        # disagree by construction — a concurrent add/delete on another
        # HTTP thread commits a newer version this plan never reads.  The
        # version's rows stay persisted between requests (the reference's
        # collection keeps its INT8 index ``always_ram``, settings.py:48-51)
        # once it or the version before it has served a few searches
        # (``_snapshot``), so a warm search lists, plans and decodes no
        # parquet; a user filter is then a predicate on the snapshot, and
        # otherwise the user's bucket read from the files.  A "quantization" of
        # "int8" or "binary" serves the reference's configured quantized
        # search (qdrant_client.py:129-138) over the same snapshot's
        # companion columns.  The one embedding goes to ``search_corpus``
        # as a vector, not a frame: it plans as a folded literal ranked by
        # TakeOrderedAndProject, one Spark job for every kind of search
        # (a quantized one rescores the rows its stage-1 take carries),
        # also the one that fills a new snapshot.
        from ..operators.store import search_corpus

        quant = body.get("quantization")
        with self._snapshot(body.get("user_filter"), quant is not None) as corpus:
            hits = search_corpus(
                corpus,
                body["embedding"],
                k,
                score_threshold=body.get("threshold"),
                quantization=quant,
                oversample=int(body.get("oversample", 3)),
                keep=("user_id", "metadata", "ts"),
            )
            rows = hits.collect()  # at most k rows, in rank order
        ms = self._record("search", t0)
        return {
            "success": True,
            "results": [
                {
                    "id": r["point_id"],
                    "score": r["score"],
                    "user_id": r["user_id"],
                    "metadata": dict(r["metadata"] or {}),
                    "timestamp": r["ts"],
                }
                for r in rows
            ],
            "query_time_ms": round(ms, 3),
            "total_results": len(rows),
            "message": f"Found {len(rows)} similar vectors",
            "timestamp": time.time(),
        }

    def delete_point(self, point_id: str) -> dict:
        t0 = time.perf_counter()
        with self._write_lock:
            n = self.store.delete_by_id([point_id])
        self._record("delete", t0)
        return {
            "success": True,
            "deleted": n > 0,
            "message": f"Deleted {n} vector(s)",
            "timestamp": time.time(),
        }

    def delete_user(self, user_id: str) -> dict:
        t0 = time.perf_counter()
        with self._write_lock:
            n = self.store.delete_user(user_id)
        self._record("delete_user", t0)
        return {
            "success": True,
            "deleted_count": n,
            "message": f"Deleted {n} vector(s) for user {user_id}",
            "timestamp": time.time(),
        }

    @staticmethod
    def _quantile(sorted_ms: list[float], q: float) -> float:
        """Nearest-rank quantile over the bounded recent-latency ring."""
        idx = min(len(sorted_ms) - 1, max(0, int(round(q * (len(sorted_ms) - 1)))))
        return sorted_ms[idx]

    def _ops_snapshot(self) -> dict:
        """Locked snapshot of the per-op accounting: op → (count, total_ms,
        sorted recent-latency ring).  The ONE producer for both /stats
        percentiles and /metrics exposition."""
        with self._stats_lock:
            return {
                op: (c, tot, sorted(self._op_recent.get(op, ())))
                for op, (c, tot) in self._op_stats.items()
            }

    def _perf_stats(self) -> dict:
        snap = self._ops_snapshot()
        out = {}
        for op, (c, tot, recent) in snap.items():
            entry = {"count": c, "avg_ms": round(tot / c, 3)}
            if recent:  # already sorted by _ops_snapshot
                entry.update(
                    p50_ms=round(self._quantile(recent, 0.50), 3),
                    p95_ms=round(self._quantile(recent, 0.95), 3),
                    p99_ms=round(self._quantile(recent, 0.99), 3),
                    window=len(recent),  # ring is bounded at 1000 records
                )
            out[op] = entry
        return out

    def stats(self) -> dict:
        return {
            "success": True,
            "collection_info": self.store.stats(),
            "performance_stats": self._perf_stats(),
            "gpu_info": {"gpu_available": False, "engine": "spark"},
            "snapshot": self.snapshot_info(),
            "timestamp": time.time(),
        }

    def health(self) -> dict:
        # keys mirror HealthCheckResponse (schemas.py:118-124) — ALL of its
        # no-default fields, so a reference client parsing with that pydantic
        # model validates; the "connection" is the store manifest being
        # readable, and gpu_available is honestly False on a CPU Spark engine
        ok = self.store._current_version() >= 0
        return {
            "success": True,
            "status": "healthy" if ok else "unhealthy",
            "qdrant_connection": ok,
            "collection_exists": ok,
            "collection_name": self.collection_name,
            "gpu_available": False,
            "timestamp": time.time(),
        }

    def info(self) -> dict:
        return {
            "service": "robi_biometric_qdrant_vector_db_service_spark",
            "engine": "pyspark",
            "api_version": "v1",
            "uptime_sec": round(time.time() - self._started, 1),
            "store_version": self.store._current_version(),
        }

    def root(self) -> dict:
        """GET / service banner — same keys as the reference's root endpoint
        (src/main.py:198-214: service/version/status/description/endpoints/
        timestamp), with honest values for a CPU Spark engine; metrics are
        served in-process at /metrics rather than a separate port."""
        return {
            "service": "Qdrant Vector Database Service",
            "version": "v1",
            "status": "running",
            "description": (
                "PySpark-native vector analytics engine "
                "(API-compatible facade over a DataFrame store)"
            ),
            "endpoints": {
                "health": f"{PREFIX}/health",
                "docs": None,  # no OpenAPI autogen on the stdlib server
                "metrics": "/metrics",
            },
            "timestamp": time.time(),
        }

    def metrics_text(self) -> str:
        """GET /metrics — Prometheus text exposition (format version 0.0.4)
        of the live per-op accounting, mirroring the reference's metric
        families (src/main.py:216-227 + src/utils/performance.py:48-100):
        qdrant_search_requests_total / qdrant_add_requests_total /
        qdrant_errors_total counters, plus a per-operation latency summary
        whose quantiles come from the bounded last-1000 ring (_perf_stats).
        GPU gauges are honestly absent on a CPU engine, and
        qdrant_vector_count_total is served by /stats (it needs a Spark
        job — too heavy for a 15 s scrape loop)."""
        ops = self._ops_snapshot()
        with self._stats_lock:
            errors = dict(self._errors)
        lines: list[str] = []

        def fam(name: str, mtype: str, help_: str) -> None:
            lines.append(f"# HELP {name} {help_}")
            lines.append(f"# TYPE {name} {mtype}")

        searches = ops.get("search", (0, 0.0, []))[0]
        adds = ops.get("add", (0, 0.0, []))[0] + ops.get("add_batch", (0, 0.0, []))[0]
        fam("qdrant_search_requests_total", "counter", "Total number of search requests")
        lines.append(f"qdrant_search_requests_total {searches}")
        fam("qdrant_add_requests_total", "counter", "Total number of add requests")
        lines.append(f"qdrant_add_requests_total {adds}")
        fam("qdrant_errors_total", "counter", "Total number of errors")
        for et, c in sorted(errors.items()):
            lines.append(f'qdrant_errors_total{{error_type="{et}"}} {c}')
        fam(
            "qdrant_op_duration_seconds",
            "summary",
            "Per-operation request duration (quantiles over the last 1000 requests)",
        )
        for op, (c, tot, recent) in sorted(ops.items()):
            for q in (0.5, 0.95, 0.99):
                if recent:
                    v = self._quantile(recent, q) / 1000.0
                    lines.append(
                        f'qdrant_op_duration_seconds{{operation="{op}",quantile="{q}"}} {v:.6f}'
                    )
            lines.append(f'qdrant_op_duration_seconds_sum{{operation="{op}"}} {tot / 1000.0:.6f}')
            lines.append(f'qdrant_op_duration_seconds_count{{operation="{op}"}} {c}')
        snap = self.snapshot_info()
        fam(
            "service_snapshot_version",
            "gauge",
            "Manifest version of the warm search snapshot (-1 when none is persisted)",
        )
        v = snap["version"]
        lines.append(f"service_snapshot_version {-1 if v is None else v}")
        fam("service_snapshot_builds_total", "counter", "Searches that built the warm snapshot")
        lines.append(f"service_snapshot_builds_total {snap['builds']}")
        fam("service_snapshot_reuses_total", "counter", "Searches served by the warm snapshot")
        lines.append(f"service_snapshot_reuses_total {snap['reuses']}")
        fam(
            "service_snapshot_uncached_total",
            "counter",
            "Searches that read the store's files instead of a snapshot",
        )
        lines.append(f"service_snapshot_uncached_total {snap['uncached']}")
        fam("service_uptime_seconds", "gauge", "Seconds since service start")
        lines.append(f"service_uptime_seconds {time.time() - self._started:.3f}")
        return "\n".join(lines) + "\n"

    def benchmark(self, config: dict | None = None) -> dict:
        """GET /benchmark (main.py:229-259): a bounded in-service
        insertion + search + concurrent micro-benchmark, graded against the
        reference's bars (performance.py:450-451: search <= 20 ms,
        throughput >= 1000 ops/s).  Defaults are scaled down from the
        reference's lightweight config so the route answers in seconds on
        a cold JVM; pass query params to raise them.  The grading is honest:
        a per-request Spark job does NOT beat a 20 ms GPU bar — the engine's
        amortized batch path (bench.py) is where that comparison lives."""
        import numpy as np

        cfg = {
            "num_vectors": 48,
            "single_insertions": 6,
            "search_queries": 8,
            "batch_size": 16,
            "concurrent_requests": 3,
            "operations_per_request": 3,
            "k": 5,
            "vector_dim": 16,
            "cleanup": True,
        }
        cfg.update(config or {})
        # probes must live in the corpus' vector space: reuse the live dim
        first = self.store.read().select("embedding").first()
        dim = len(first["embedding"]) if first else int(cfg["vector_dim"])
        rng = np.random.default_rng(12345)
        # unique per-run tenant prefix so cleanup deletes EXACTLY this run's
        # rows — a bare 'bench%' pattern would destroy any pre-existing
        # tenant whose user_id merely starts with "bench"
        run = uuid.uuid4().hex[:12]

        def vec() -> list[float]:
            return [float(x) for x in rng.standard_normal(dim)]

        # insertion: singles through the wire path, then batches
        t_single = time.perf_counter()
        for i in range(int(cfg["single_insertions"])):
            self.add({"embedding": vec(), "user_id": f"bench_{run}_single_{i}"})
        single_avg_ms = (
            (time.perf_counter() - t_single) / max(1, int(cfg["single_insertions"])) * 1000
        )
        n_batched = int(cfg["num_vectors"]) - int(cfg["single_insertions"])
        bs = int(cfg["batch_size"])
        t_batch = time.perf_counter()
        batches = 0
        for lo in range(0, n_batched, bs):
            n = min(bs, n_batched - lo)
            self.add_batch(
                {
                    "embeddings": [vec() for _ in range(n)],
                    "user_ids": [f"bench_{run}_user_{lo + j}" for j in range(n)],
                }
            )
            batches += 1
        batch_sec = time.perf_counter() - t_batch
        insertion = {
            "total_vectors": int(cfg["num_vectors"]),
            "vector_dimension": dim,
            "batch_size": bs,
            "single_insertion": {
                "count": int(cfg["single_insertions"]),
                "avg_time_ms": round(single_avg_ms, 3),
            },
            "batch_insertion": {
                "batches": batches,
                "avg_batch_time_ms": round(batch_sec / max(1, batches) * 1000, 3),
                "avg_vectors_per_sec": round(n_batched / max(batch_sec, 1e-9), 1),
            },
        }

        # search: serial probes through the wire path
        times = []
        result_counts = []
        for _ in range(int(cfg["search_queries"])):
            r = self.search({"embedding": vec(), "k": int(cfg["k"])})
            times.append(r["query_time_ms"])
            result_counts.append(r["total_results"])
        avg_ms = sum(times) / max(1, len(times))
        search = {
            "total_queries": len(times),
            "k": int(cfg["k"]),
            "vector_dimension": dim,
            "search_performance": {
                "avg_time_ms": round(avg_ms, 3),
                "min_time_ms": round(min(times), 3) if times else 0,
                "max_time_ms": round(max(times), 3) if times else 0,
                "queries_per_sec": round(1000 / avg_ms, 2) if avg_ms else 0,
            },
            "result_stats": {
                "avg_results": round(sum(result_counts) / max(1, len(result_counts)), 2),
                "total_results": sum(result_counts),
            },
        }

        # concurrent: N threads x M searches, overall wall-clock throughput
        n_threads = int(cfg["concurrent_requests"])
        per_thread = int(cfg["operations_per_request"])

        def worker():
            for _ in range(per_thread):
                self.search({"embedding": vec(), "k": int(cfg["k"])})

        t_conc = time.perf_counter()
        threads = [threading.Thread(target=worker) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        conc_sec = time.perf_counter() - t_conc
        total_ops = n_threads * per_thread
        concurrent = {
            "concurrent_requests": n_threads,
            "operations_per_request": per_thread,
            "total_operations": total_ops,
            "total_time_sec": round(conc_sec, 3),
            "overall_throughput_ops_per_sec": round(total_ops / max(conc_sec, 1e-9), 2),
        }

        # grade against the reference's fixed bars (performance.py:450-451)
        target_ms, target_ops = 20.0, 1000.0
        analysis = {
            "targets": {
                "search_time_ms": target_ms,
                "throughput_ops_per_sec": target_ops,
            },
            "search_analysis": {
                "actual_avg_time_ms": round(avg_ms, 3),
                "target_time_ms": target_ms,
                "improvement_percent": round((target_ms - avg_ms) / target_ms * 100, 1),
                "meets_target": avg_ms <= target_ms,
            },
            "throughput_analysis": {
                "actual_ops_per_sec": concurrent["overall_throughput_ops_per_sec"],
                "target_ops_per_sec": target_ops,
                "improvement_percent": round(
                    (concurrent["overall_throughput_ops_per_sec"] - target_ops)
                    / target_ops
                    * 100,
                    1,
                ),
                "meets_target": concurrent["overall_throughput_ops_per_sec"] >= target_ops,
            },
        }

        if cfg["cleanup"]:
            with self._write_lock:
                # run is hex, so the LIKE _ wildcards cannot over-match
                self.store.delete_where(f"user_id LIKE 'bench_{run}_%'")

        return {
            "insertion": insertion,
            "search": search,
            "concurrent": concurrent,
            "performance_analysis": analysis,
        }

    # -- http ---------------------------------------------------------------

    def make_server(self, port: int = 0) -> ThreadingHTTPServer:
        """Bind (port 0 = ephemeral) and return the server; call
        ``serve_forever`` (or ``start_background``) to accept requests."""
        service = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):  # quiet: tests/CI
                pass

            def _send(self, code: int, payload: dict) -> None:
                self._send_text(code, json.dumps(payload), "application/json")

            def _send_text(self, code: int, text: str, ctype: str) -> None:
                body = text.encode()
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _body(self) -> dict:
                n = int(self.headers.get("Content-Length", 0))
                return json.loads(self.rfile.read(n) or b"{}")

            def _route(self, method: str) -> None:
                # Match on SPLIT, URL-DECODED path segments (ADVICE r5):
                # prefix string-matching mis-routed DELETE /vectors/user
                # (no id) and point ids that merely start with "user/", and
                # never percent-decoded ids.  Splitting before unquoting
                # keeps an encoded %2F inside one segment, so any point id
                # is expressible on the wire.
                parts = [
                    urllib.parse.unquote(p)
                    for p in urllib.parse.urlsplit(self.path).path.split("/")
                    if p
                ]
                V = ["api", "v1", "vectors"]
                try:
                    if method == "POST" and parts == V + ["add"]:
                        return self._send(200, service.add(self._body()))
                    if method == "POST" and parts == V + ["add_batch"]:
                        return self._send(200, service.add_batch(self._body()))
                    if method == "POST" and parts == V + ["search"]:
                        return self._send(200, service.search(self._body()))
                    if method == "DELETE" and len(parts) == 5 and parts[:4] == V + ["user"] and parts[4]:
                        return self._send(200, service.delete_user(parts[4]))
                    if method == "DELETE" and len(parts) == 4 and parts[:3] == V and parts[3]:
                        # /vectors/user (4 segments) lands here as point id
                        # "user" — FastAPI's /vectors/{point_id} route does
                        # the same when the /user/{id} pattern can't match
                        return self._send(200, service.delete_point(parts[3]))
                    if method == "GET" and parts == []:
                        return self._send(200, service.root())
                    if method == "GET" and parts == ["metrics"]:
                        return self._send_text(
                            200,
                            service.metrics_text(),
                            "text/plain; version=0.0.4; charset=utf-8",
                        )
                    if method == "GET" and parts == ["api", "v1", "stats"]:
                        return self._send(200, service.stats())
                    if method == "GET" and parts == ["api", "v1", "health"]:
                        return self._send(200, service.health())
                    if method == "GET" and parts == ["api", "v1", "info"]:
                        return self._send(200, service.info())
                    if method == "GET" and parts in (
                        ["benchmark"],
                        ["api", "v1", "benchmark"],
                    ):
                        qs = urllib.parse.parse_qs(urllib.parse.urlsplit(self.path).query)
                        cfg = {k: int(v[0]) for k, v in qs.items() if v and v[0].isdigit()}
                        results = service.benchmark(cfg)
                        return self._send(
                            200,
                            {
                                "success": True,
                                "benchmark_results": results,
                                "timestamp": time.time(),
                            },
                        )
                    # 404 body mirrors not_found_handler (src/main.py:323-341:
                    # success/error/path/available_endpoints/timestamp), with
                    # the list naming the routes THIS facade actually serves
                    return self._send(
                        404,
                        {
                            "success": False,
                            "error": "Endpoint not found",
                            "path": urllib.parse.urlsplit(self.path).path,
                            "available_endpoints": [
                                "/",
                                f"{PREFIX}/health",
                                f"{PREFIX}/stats",
                                f"{PREFIX}/info",
                                f"{PREFIX}/vectors/add",
                                f"{PREFIX}/vectors/add_batch",
                                f"{PREFIX}/vectors/search",
                                f"{PREFIX}/vectors/{{point_id}}",
                                f"{PREFIX}/vectors/user/{{user_id}}",
                                f"{PREFIX}/benchmark",
                                "/benchmark",
                                "/metrics",
                            ],
                            "timestamp": time.time(),
                        },
                    )
                except (KeyError, ValueError, TypeError) as e:
                    service.record_error(type(e).__name__)
                    return self._send(422, {"success": False, "message": str(e)})
                except Exception as e:  # mirror endpoints.py HTTP 500 wrap
                    service.record_error(type(e).__name__)
                    return self._send(500, {"success": False, "message": str(e)})

            def do_POST(self):
                self._route("POST")

            def do_GET(self):
                self._route("GET")

            def do_DELETE(self):
                self._route("DELETE")

        return ThreadingHTTPServer(("127.0.0.1", port), Handler)

    def start_background(self, port: int = 0) -> tuple[ThreadingHTTPServer, int]:
        """Start serving on a daemon thread; returns (server, bound_port)."""
        srv = self.make_server(port)
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()
        return srv, srv.server_address[1]
