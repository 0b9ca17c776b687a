"""Spans around the engine's public entry points, with Spark counters.

The traced run wraps public functions and methods (``Tracer.patch``) so
that each call records a span: name, start, end, parent span and request
id.  Spans stay in memory and are written out when the run ends.

A Spark job belongs to the span whose interval it was submitted in: the
DAG scheduler hands out job ids in submission order, so the ids taken
inside a span are ``[next id at entry, next id at exit)``.  With one client
this is exact, and unlike job groups it also counts jobs submitted from
other threads (stream micro-batches, overlapped segment writes).  Job and
stage counters come from the driver's status store, which keeps them with
the UI disabled.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager

SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._status = jsc.statusStore()
        self.active = False
        self.spans: list[dict] = []
        self.requests: list[dict] = []
        self._stack: list[dict] = []
        self._req: dict | None = None
        self._jobs: dict[int, dict] = {}
        self._stages_seen: set[int] = set()
        self._patches: list[tuple] = []

    # -- spans ---------------------------------------------------------------

    def _next_job(self) -> int:
        return int(self._dag.nextJobId())

    @contextmanager
    def span(self, name: str):
        if not self.active or threading.current_thread() is not threading.main_thread():
            yield None
            return
        rec = {
            "name": name,
            "req": self._req["id"] if self._req else None,
            "parent": self._stack[-1]["idx"] if self._stack else None,
            "idx": len(self.spans),
            "job0": self._next_job(),
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["job1"] = self._next_job()
            self._stack.pop()

    @contextmanager
    def request(self, kind: str, traced: bool):
        """One client request (a search or a registry row run).  A traced
        request runs with the entry points wrapped (``instrument``) and
        records spans; after it the wrappers come off, the listener bus is
        drained and its jobs' counters are read.  An untraced request runs
        the plain code."""
        if traced:
            instrument(self)
        self.active = traced
        req = {"id": len(self.requests), "kind": kind, "traced": traced}
        self._req = req
        first = len(self.spans)
        try:
            with self.span(f"request.{kind}") as top:
                yield req
        finally:
            self.active = False
            self._req = None
            self.unpatch_all()
        if traced:
            self.requests.append(req)
            req["spans"] = (first, len(self.spans))
            req["ms"] = (top["end"] - top["start"]) * 1e3
            self._bus.waitUntilEmpty()
            for s in self.spans[first:]:
                for j in range(s["job0"], s["job1"]):
                    if j not in self._jobs:
                        self._jobs[j] = self._job_counters(j)

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a wrapper that records span ``name``;
        ``after(rec, args, kwargs, result)`` may add fields to the span; it
        runs in a ``trace.hook`` span of its own, so that its time is not
        charged to the caller's self time."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
            if rec is not None and after is not None:
                with tracer.span("trace.hook"):
                    after(rec, args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- Spark counters ------------------------------------------------------

    def _job_counters(self, job_id: int) -> dict:
        c = dict.fromkeys(SPARK_COUNTERS, 0)
        c["jobs"] = 1
        try:
            job = self._status.job(job_id)
        except Exception:  # noqa: BLE001 - evicted or never registered
            return c
        ids = job.stageIds()
        for i in range(ids.length()):
            sid = ids.apply(i)
            if sid in self._stages_seen:
                continue
            st = self._status.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            self._stages_seen.add(sid)
            c["stages"] += 1
            c["tasks"] += st.numTasks()
            c["executor_run_ms"] += st.executorRunTime()
            c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return c

    def counters(self, jobs) -> dict:
        out = dict.fromkeys(SPARK_COUNTERS, 0)
        for j in jobs:
            for k, v in self._jobs.get(j, {}).items():
                out[k] += v
        return out

    # -- per-layer aggregation ----------------------------------------------

    def layers(self) -> dict[str, dict]:
        """Per span name: calls, inclusive and self ms, inclusive jobs, and
        the Spark counters of the jobs submitted in the span but outside
        its children (self)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, dict] = {}
        for s in self.spans:
            if "end" not in s:
                continue
            kids = children.get(s["idx"], [])
            ms = (s["end"] - s["start"]) * 1e3
            self_ms = ms - sum((k["end"] - k["start"]) * 1e3 for k in kids)
            own = set(range(s["job0"], s["job1"]))
            for k in kids:
                own -= set(range(k["job0"], k["job1"]))
            agg = out.setdefault(
                s["name"],
                {"calls": 0, "ms": 0.0, "self_ms": 0.0, "jobs": 0, "files": 0,
                 **{f"self_{k}": 0 for k in SPARK_COUNTERS}},
            )
            agg["calls"] += 1
            agg["ms"] += ms
            agg["self_ms"] += self_ms
            agg["jobs"] += s["job1"] - s["job0"]
            agg["files"] += s.get("files", 0)
            for k, v in self.counters(own).items():
                agg[f"self_{k}"] += v
        return out

    def dump(self) -> dict:
        return {
            "spans": [
                {k: s.get(k) for k in ("idx", "name", "req", "parent", "start", "end", "job0", "job1", "files")}
                for s in self.spans
            ],
            "jobs": {str(j): c for j, c in sorted(self._jobs.items())},
        }


STORE_METHODS = ("add_batch", "upsert", "set_payload", "delete_by_id", "delete_user", "compact", "count")


def instrument(tracer: Tracer) -> None:
    """Wrap the public entry points of each layer in spans."""
    import sys

    from robi_biometric_qdrant_vector_db_service_spark.api.service import VectorService
    from robi_biometric_qdrant_vector_db_service_spark.operators import ann, search
    from robi_biometric_qdrant_vector_db_service_spark.operators.store import VectorStore
    from robi_biometric_qdrant_vector_db_service_spark.sources import catalog

    for m in ("search", "add", "add_batch", "delete_point", "delete_user"):
        tracer.patch(VectorService, m, f"service.{m}")

    def read_files(rec, args, kwargs, _out):
        store = args[0]
        rec["files"] = len(
            store.input_files(user_id=kwargs.get("user_id"), user_ids=kwargs.get("user_ids"))
        )

    tracer.patch(VectorStore, "read", "store.read", after=read_files)
    for m in STORE_METHODS:
        tracer.patch(VectorStore, m, f"store.{m}")
    tracer.patch(search, "knn_search", "search.knn_search")
    tracer.patch(ann, "int8_rescore_topk", "ann.int8_rescore_topk")
    # registry modules bind ``load_table`` at import: wrap every binding
    orig = catalog.load_table
    for name, mod in list(sys.modules.items()):
        if name.startswith(catalog.__name__.split(".")[0]) and getattr(mod, "load_table", None) is orig:
            tracer.patch(mod, "load_table", "catalog.load_table")
    # the classic DataFrame implementation overrides the abstract one
    frame = type(tracer.spark.range(0))
    tracer.patch(frame, "collect", "dataframe.collect")
