"""Physical-plan audit over the full query registry.

Timing on a shared machine is noisy (BENCH_NOTES_r06/r07); the plan is
not.  This tool records, per registry query, the plan properties that
determine 100 TB viability — how many shuffles, what broadcasts, whether
scans are pruned/pushed, how wide the codegen spans are — into
`PLANS_r{N}.json`, so cross-round regressions in plan SHAPE (a new
shuffle, a lost pushdown, a corpus-side broadcast) are diffable even when
wall-clock is not comparable.

Usage:
  python tools/plan_audit.py <round_number>   # full registry → PLANS_r{N}.json
  python tools/plan_audit.py [names ...]      # ad-hoc subset, print-only
(The artifact is only written for full-registry runs — a named subset
never overwrites a round's committed audit.)
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import SparkSession  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def plan_metrics(plan: str) -> dict:
    """Counters over the `formatted` explain output.

    Formatted mode prints every node twice (once in the header tree, once
    as a `(N) NodeName` detail header), so ALL node counters anchor on the
    detail-header lines — naive substring counts double every node."""
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    from collections import Counter

    c = Counter(nodes)
    return {
        # every non-broadcast Exchange is a shuffle
        "shuffles": c["Exchange"],
        "broadcasts": c["BroadcastExchange"],
        "sort_merge_joins": c["SortMergeJoin"],
        "broadcast_hash_joins": c["BroadcastHashJoin"],
        "nested_loop_joins": c["BroadcastNestedLoopJoin"],
        "cartesian": c["CartesianProduct"],
        # formatted mode tags codegen as "[codegen id : N]" detail notes
        "codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]", plan))),
        "scans": len(re.findall(r"^\(\d+\) Scan ", plan, re.M)),
        "pushed_filter_scans": len(
            [m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m.strip()]
        ),
        "window_group_limits": c["WindowGroupLimit"],
        "take_ordered": c["TakeOrderedAndProject"],
    }


def main() -> None:
    args = sys.argv[1:]
    rnd = args[0] if args and args[0].isdigit() else None
    names = args[1:] if rnd else args
    from robi_biometric_qdrant_vector_db_service_spark.workload import REGISTRY

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .appName("plan-audit")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    for name in names or list(REGISTRY):
        try:
            df = REGISTRY[name].run(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            out[name] = plan_metrics(plan)
            flag = " CARTESIAN!" if out[name]["cartesian"] else ""
            print(
                f"{name}: shuffles={out[name]['shuffles']} "
                f"bcast={out[name]['broadcasts']} smj={out[name]['sort_merge_joins']}"
                f"{flag}",
                flush=True,
            )
        except Exception as e:  # noqa: BLE001
            out[name] = {"error": f"{type(e).__name__}: {e}"[:200]}
            print(f"{name}: ERROR {e}", flush=True)
    if rnd and not names:  # artifact only for full-registry runs
        path = REPO / f"PLANS_r{rnd.zfill(2)}.json"
        with open(path, "w") as f:
            json.dump(
                {
                    "provenance": "tools/plan_audit.py over the full registry, "
                    "sf0.01, formatted explain (pre-AQE-finalization plan)",
                    "n": len(out),
                    "cartesian_free": all(
                        m.get("cartesian", 0) == 0 for m in out.values()
                    ),
                    "queries": out,
                },
                f,
                indent=1,
            )
        print("WROTE", path)


if __name__ == "__main__":
    main()
