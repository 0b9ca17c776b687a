"""Isolated per-query timing for the r19 optimization round.

Times named registry queries exactly the way bench.py does (run() +
collect(), min over N iterations) in a bench-shaped session (hot cache +
prepare_all + worker prime), without paying for the other 188 rows.

Usage: python tools/qtime_r19.py <query> [<query> ...] [--iters N]
Prints one JSON object {query: min_sec} plus per-iter detail on stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    iters = 3
    if "--iters" in args:
        i = args.index("--iters")
        iters = int(args[i + 1])
        del args[i : i + 2]
    names = args
    os.environ.setdefault("SPARK_GRAFT_HOT_CACHE", "1")

    from robi_biometric_qdrant_vector_db_service_spark.session import get_spark
    from robi_biometric_qdrant_vector_db_service_spark.sources.catalog import (
        warm_hot_cache,
    )
    from robi_biometric_qdrant_vector_db_service_spark.workload import (
        REGISTRY,
        prepare_all,
    )

    spark = get_spark("qtime_r19")
    warm_hot_cache(spark, SF_DIR)
    prepare_all(spark, SF_DIR)

    def _noop(it):
        for batch in it:
            yield batch

    spark.range(0, 32, 1, 32).mapInPandas(_noop, "id long").count()

    out = {}
    for name in names:
        times = []
        for _ in range(iters):
            t0 = time.perf_counter()
            df = REGISTRY[name].run(spark, SF_DIR)
            df.collect()
            times.append(round(time.perf_counter() - t0, 4))
        out[name] = min(times)
        print(f"{name}: {times}", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
