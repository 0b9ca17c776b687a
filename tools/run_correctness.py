"""Local replica of the driver's t2 correctness pass: run every registry
query at sf0.01 against its DuckDB oracle, print per-query timing + status.

Each oracle-checked query also records an order-insensitive md5 value hash
of its Spark result (r12 VERDICT item 5) so the committed
CORRECTNESS_LOCAL_r{N}.json can be cross-checked against the driver's rows
offline without re-running anything.

Usage:
    python tools/run_correctness.py [names ...]
    python tools/run_correctness.py --write N [names ...]   # also write
        CORRECTNESS_LOCAL_rN.json (full registry unless names given)
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import SparkSession  # noqa: E402

from robi_biometric_qdrant_vector_db_service_spark.workload import REGISTRY  # noqa: E402
from tests.parity import check  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    args = sys.argv[1:]
    write_round = None
    if args and args[0] == "--write":
        write_round = int(args[1])
        args = args[2:]
    names = args or list(REGISTRY)
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .appName("correctness-local")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    results: dict[str, dict] = {}
    t_all = time.time()
    for name in names:
        spec = REGISTRY[name]
        t0 = time.time()
        row: dict = {}
        try:
            if spec.oracle is None:
                n = spec.run(spark, SF_DIR).count()
                status = f"rows_only n={n}"
                ok = True
                row["rows"] = n
            else:
                errs = check(spark, name, spec, SF_DIR, out=row)
                ok = not errs
                status = "ok" if ok else "; ".join(errs)[:300]
        except Exception as e:  # noqa: BLE001
            ok = False
            status = f"EXC {type(e).__name__}: {e}"[:300]
        dt = time.time() - t0
        row.update({"ok": ok, "sec": round(dt, 2), "status": status})
        results[name] = row
        h = row.get("hash", "-")
        print(f"{'PASS' if ok else 'FAIL':4} {dt:7.2f}s  {name}: {status} [{h}]", flush=True)
    print(f"TOTAL {time.time() - t_all:.1f}s")
    bad = {k: v for k, v in results.items() if not v["ok"]}
    print(json.dumps({"n": len(results), "fail": list(bad)}, indent=0))
    if write_round is not None:
        artifact = {
            "round": write_round,
            "provenance": (
                "local oracle replica (tools/run_correctness.py), sf0.01, "
                f"{len(results)}-query run on final round-{write_round} code; "
                "per-query 'hash' = order-insensitive md5 of the canonicalized "
                "Spark result multiset with columns sorted by name "
                "(tests/parity.value_hash)"
            ),
            "n": len(results),
            "n_pass": sum(1 for v in results.values() if v["ok"]),
            "fail": list(bad),
            "queries": results,
        }
        path = REPO / f"CORRECTNESS_LOCAL_r{write_round}.json"
        with open(path, "w") as f:
            json.dump(artifact, f, indent=1)
        print("wrote", path)


if __name__ == "__main__":
    main()
