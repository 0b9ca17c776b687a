"""Per-stage profile of multimodal_resize (r12 VERDICT item 2: the driver
bench showed 3.22s vs r11's 0.91s with a byte-identical plan — explain or
fix).  Waits for an idle co-tenant window, then times each pipeline stage
separately at sf0.1, min over N runs:

  scan    parquet scan + encode() to the blob table (no Python stage)
  resize  blobs -> resize_blobs (one mapInPandas)
  decode  blobs -> decode_features (one mapInPandas)
  chain   resize -> decode (two pipelined mapInPandas = the query)
  query   the registered multimodal_resize (chain + projection + collect)

Usage: python tools/profile_multimodal.py [max_load] [iters]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402


def wait_idle(max_load: float, timeout_sec: float = 1800.0) -> float:
    t0 = time.time()
    while time.time() - t0 < timeout_sec:
        load = float(open("/proc/loadavg").read().split()[0])
        if load <= max_load:
            return load
        time.sleep(10)
    return float(open("/proc/loadavg").read().split()[0])


def main() -> None:
    max_load = float(sys.argv[1]) if len(sys.argv) > 1 else 1.5
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from robi_biometric_qdrant_vector_db_service_spark.operators.multimodal import (
        decode_features,
        resize_blobs,
        to_blob_table,
    )
    from robi_biometric_qdrant_vector_db_service_spark.session import get_spark
    from robi_biometric_qdrant_vector_db_service_spark.sources.catalog import load_table
    from robi_biometric_qdrant_vector_db_service_spark.workload import REGISTRY

    spark = get_spark("profile-multimodal")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents")

    # warm: JVM, parquet footers, one Python worker per core
    def _noop(it):
        for b in it:
            yield b

    spark.range(0, 32, 1, 32).mapInPandas(_noop, "id long").count()
    docs.count()

    stages = {
        "scan": lambda: to_blob_table(docs)
        .select(F.sum(F.crc32("blob")))
        .collect(),
        "resize": lambda: resize_blobs(to_blob_table(docs), factor=2)
        .select(F.sum("n_bytes"))
        .collect(),
        "decode": lambda: decode_features(to_blob_table(docs))
        .select(F.sum("byte_checksum"))
        .collect(),
        "chain": lambda: decode_features(resize_blobs(to_blob_table(docs), factor=2))
        .select(F.sum("byte_checksum"))
        .collect(),
        "query": lambda: REGISTRY["multimodal_resize"].run(spark, sf_dir).collect(),
    }

    out: dict[str, dict] = {}
    for name, fn in stages.items():
        fn()  # per-stage warmup run (codegen for this exact plan)
        times = []
        for _ in range(iters):
            load0 = wait_idle(max_load)
            t0 = time.perf_counter()
            fn()
            times.append(round(time.perf_counter() - t0, 4))
        out[name] = {
            "min": min(times),
            "runs": times,
            "load_at_last_start": load0,
        }
        print(name, out[name], flush=True)
    print(json.dumps({"sf_dir": sf_dir, "iters": iters, "stages": out}))


if __name__ == "__main__":
    main()
