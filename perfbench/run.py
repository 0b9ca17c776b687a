"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_search --seed 1 --seconds 12 --trace 0

Runs one workload (``serve_search`` or ``batch_registry``)
from the root of a checkout, checks every output, and prints the result as
the last line of standard output: one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  Everything the
run writes goes under ``.perfbench/`` in the checkout; traces land in
``.perfbench/out/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

from rounds import cpu_times, steal_share
from spans import SPARK_COUNTERS, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "robi_biometric_qdrant_vector_db_service_spark"
WORKLOADS = ("serve_search", "batch_registry")

# name -> (unit, better); BENCHMARK.json lists the same names
E2E = {
    "setup_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "request_p50_ms": ("ms", "lower"),
    "int8_recall_at_10": ("ratio", "higher"),
}
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "catalog.load_table.calls": ("count", "lower"),
    "catalog.load_table.ms": ("ms", "lower"),
    "catalog.load_table.jobs": ("count", "lower"),
    "workload.build_ms": ("ms", "lower"),
    "workload.build_jobs": ("count", "lower"),
    "workload.collect_ms": ("ms", "lower"),
    "service.search.self_ms": ("ms", "lower"),
    "store.read.ms": ("ms", "lower"),
    "store.read.files": ("count", "lower"),
    "store.commit.ms.upsert": ("ms", "lower"),
    "store.commit.jobs.upsert": ("count", "lower"),
    "store.live_files": ("count", "lower"),
    "search.knn_search.build_ms": ("ms", "lower"),
    "ann.int8_rescore_topk.build_ms": ("ms", "lower"),
    "dataframe.collect.ms": ("ms", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_ms": ("ms", "lower"),
    "spark.executor_cpu_ms": ("ms", "lower"),
    "spark.shuffle_read_bytes": ("B", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.cpu_share": ("ratio", "higher"),
    "spark.busy_share": ("ratio", "higher"),
    "peak_rss_mb": ("MB", "lower"),
    "batch_wall_s": ("s", "lower"),
    "space_amp": ("ratio", "lower"),
    "failed_frac": ("ratio", "lower"),
    "trace.overhead_ms": ("ms", "lower"),
}


class Result:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.setup: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.extra: dict = {}
        self.samples: dict[str, int] = {}
        self.per_row_ms: dict[str, float] = {}
        self.series: dict[str, list[float]] = {}
        self.timed_s = 0.0  # summed request time of the timed loop

    def record(self, what: str, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            print(f"CHECK FAILED {what}: " + "; ".join(errs[:3]), file=sys.stderr)


class Context:
    def __init__(self, args, work):
        import numpy as np

        self.root = ROOT
        self.work = work
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.rng = np.random.default_rng(args.seed)
        self.result = Result()
        self.traced_ms: dict[str, list[float]] = {}
        self.untraced_ms: dict[str, list[float]] = {}
        self.spark = None
        self.tracer = None
        self.session_start_s = 0.0


# -- processes ---------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        st = _stat(int(d)) if d.isdigit() else []
        if len(st) > 1:
            kids.setdefault(int(st[1]), []).append(int(d))
    return kids


def _descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _stat(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name ([0] is the state)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return []


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return bool(st) and st[0] not in ("Z", "X")


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _jvm_pid(spark) -> int:
    proc = spark.sparkContext._gateway.proc
    return next((p for p in _descendants(proc.pid) if _comm(p) == "java"), proc.pid)


def _stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, then wait for the JVM and every
    process it started (Python workers) to end."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    pids = _descendants(proc.pid)
    try:
        spark.stop()
    finally:
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - TimeoutExpired; make sure it ends
            proc.kill()
            proc.wait()
        deadline = time.time() + 30
        for p in pids:
            while _alive(p) and time.time() < deadline:
                time.sleep(0.1)
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass


# -- metrics ------------------------------------------------------------------


def per_layer(ctx: Context, cores: int) -> dict[str, float]:
    tracer, res = ctx.tracer, ctx.result
    layers = tracer.layers()
    n_req = max(1, len(tracer.requests))

    def tot(name, key):
        return layers.get(name, {}).get(key, 0)

    def per_call(name, key):
        calls = tot(name, "calls")
        return tot(name, key) / calls if calls else 0.0

    out = {"session.start_s": ctx.session_start_s}
    for key in ("calls", "ms", "jobs"):
        out[f"catalog.load_table.{key}"] = tot("catalog.load_table", key) / n_req
    out["workload.build_ms"] = per_call("workload.build", "ms")
    out["workload.build_jobs"] = per_call("workload.build", "jobs")
    out["workload.collect_ms"] = per_call("workload.collect", "ms")
    out["service.search.self_ms"] = per_call("service.search", "self_ms")
    out["store.read.ms"] = per_call("store.read", "ms")
    out["store.read.files"] = per_call("store.read", "files")
    # batch_registry's upsert_merge commits through upsert
    out["store.commit.ms.upsert"] = per_call("store.upsert", "ms")
    out["store.commit.jobs.upsert"] = per_call("store.upsert", "jobs")
    out["store.live_files"] = res.extra.get("store_live_files", 0.0)
    out["search.knn_search.build_ms"] = per_call("search.knn_search", "ms")
    out["ann.int8_rescore_topk.build_ms"] = per_call("ann.int8_rescore_topk", "ms")
    out["dataframe.collect.ms"] = tot("dataframe.collect", "ms") / n_req
    spark_tot = {k: sum(v[f"self_{k}"] for v in layers.values()) for k in SPARK_COUNTERS}
    for k, v in spark_tot.items():
        out[f"spark.{k}"] = v / n_req
    run_ms = spark_tot["executor_run_ms"]
    wall_ms = sum(r["ms"] for r in tracer.requests)
    out["spark.cpu_share"] = spark_tot["executor_cpu_ms"] / run_ms if run_ms else 0.0
    out["spark.busy_share"] = run_ms / (wall_ms * cores) if wall_ms else 0.0
    out["peak_rss_mb"] = res.e2e["peak_rss_mb"]
    for k in ("batch_wall_s", "space_amp"):
        out[k] = res.extra.get(k, 0.0)
    out["failed_frac"] = res.failed / max(1, res.attempted)
    diffs = [
        statistics.median(ctx.traced_ms[k]) - statistics.median(ctx.untraced_ms[k])
        for k in ctx.traced_ms
        if ctx.untraced_ms.get(k)
    ]
    out["trace.overhead_ms"] = statistics.median(diffs) if diffs else 0.0
    return {k: float(v) for k, v in out.items()}


def print_layer_table(ctx: Context) -> None:
    layers = ctx.tracer.layers()
    n_req = max(1, len(ctx.tracer.requests))
    print(f"per-layer self time over {n_req} traced requests (ms and counters are totals)")
    print(f"{'span':32} {'calls':>6} {'ms':>9} {'self_ms':>9} {'jobs':>5} {'stages':>6} {'tasks':>6} "
          f"{'run_ms':>8} {'cpu_ms':>8} {'shuf_r_B':>9} {'shuf_w_B':>9} {'spill_B':>8}")
    for name, v in sorted(layers.items(), key=lambda kv: -kv[1]["self_ms"]):
        print(f"{name:32} {v['calls']:6d} {v['ms']:9.1f} {v['self_ms']:9.1f} {v['self_jobs']:5d} "
              f"{v['self_stages']:6d} {v['self_tasks']:6d} {v['self_executor_run_ms']:8.0f} "
              f"{v['self_executor_cpu_ms']:8.0f} {v['self_shuffle_read_bytes']:9d} "
              f"{v['self_shuffle_write_bytes']:9d} {v['self_spill_bytes']:8d}")


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


# -- main ---------------------------------------------------------------------


def _setup_env(work: str, workload: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        # keep the JVMs' temp files in the checkout; heap and JVM options
        # stay as session.get_spark sets them
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_GRAFT_HOT_CACHE="1" if workload == "batch_registry" else "0",
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
        ),
    )
    tempfile.tempdir = None


def run(args, work: str) -> tuple[Context, dict, dict | None]:
    ctx = Context(args, work)
    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": _loadavg(),
        "cpu_start": cpu_times(),
        "python": platform.python_version(),
    }
    sys.path.insert(0, ROOT)
    from robi_biometric_qdrant_vector_db_service_spark.session import get_spark

    t0 = time.perf_counter()
    ctx.spark = get_spark("perfbench")
    ctx.session_start_s = time.perf_counter() - t0
    try:
        ctx.tracer = Tracer(ctx.spark)
        if args.workload == "batch_registry":
            import batch

            batch.run(ctx)
        else:
            import serve

            serve.run(ctx)
        res = ctx.result
        jvm = _jvm_pid(ctx.spark)
        res.e2e["setup_s"] = ctx.session_start_s + sum(res.setup.values())
        res.e2e["peak_rss_mb"] = (_status_kb(os.getpid(), "VmHWM") + _status_kb(jvm, "VmHWM")) / 1024
        meta.update(
            spark=ctx.spark.version,
            jdk=ctx.spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            loadavg_end=_loadavg(),
            cpu_steal_share=steal_share(meta.pop("cpu_start"), cpu_times()),
        )
        layer = None
        if ctx.trace:
            layer = per_layer(ctx, meta["nproc"])
            out_dir = os.path.join(ROOT, ".perfbench", "out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"meta": meta, "per_layer": layer, **ctx.tracer.dump()}, f)
            meta["trace_file"] = os.path.relpath(path, ROOT)
    finally:
        if ctx.tracer is not None:
            ctx.tracer.unpatch_all()
        _stop_spark(ctx.spark)
    return ctx, meta, layer


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    _setup_env(work, args.workload)
    try:
        ctx, meta, layer = run(args, work)
    except Exception:  # noqa: BLE001 - report, clean up, fail
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res = ctx.result
    print(json.dumps({"meta": meta, "setup": res.setup, "timed_s": res.timed_s, "samples": res.samples,
                      "extra": res.extra, "per_row_ms": res.per_row_ms,
                      "latency_ms": res.series}, default=float))
    for k, v in res.e2e.items():
        print(f"{k:20} {float(v):12.4f} {(E2E.get(k) or PER_LAYER[k])[0]}")
    if ctx.trace:
        print_layer_table(ctx)
        metrics = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": float(res.e2e[k]), "unit": u} for k, (u, _) in E2E.items()}
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0 if res.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
