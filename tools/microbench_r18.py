"""r18 micro-benchmarks (quiet-machine adjudication evidence).

1. Two-pass scene segmentation: decode work ∝ cuts, not frames — wall
   time of single-pass (stride-1) vs two-pass (stride-S) segmentation
   over synthetic AVIs with a FIXED number of cuts (2) and growing frame
   counts.  The single pass decodes every frame; the two-pass decodes
   n/S coarse + S×cuts fine, so its time flattens as n grows.
2. BPE encode replay at fixture scale: the r17 +57% on
   bpe_encode_corpus/bpe_sequence_packing was adjudicated as co-tenant
   load (the span-compiled chain already skips localCheckpoint for
   K <= 32 — workload_pipeline.py `if j + 1 < len(spans)`); this row
   re-times both queries for BENCH_NOTES_r18.

Usage: python tools/microbench_r18.py
Prints one JSON object.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession  # noqa: E402


def scene_scaling(spark) -> dict:
    from robi_biometric_qdrant_vector_db_service_spark.operators.jpeg import (
        jpeg_encode_rgb,
    )
    from robi_biometric_qdrant_vector_db_service_spark.operators.multimodal import (
        class_grid_image,
    )
    from robi_biometric_qdrant_vector_db_service_spark.operators.video import (
        avi_encode_mjpeg,
        video_frame_dhash,
        video_scene_segments,
        video_scene_segments_twopass,
    )

    # 160x144 frames (~12 ms/decode) so DECODE dominates the timing the
    # way real video does — at 36x32 fixture size Spark job overhead
    # swamps the 1 ms decodes and the comparison measures nothing
    imgs = [
        class_grid_image(9100 + i, width=160, height=144) for i in range(3)
    ]
    encs = [jpeg_encode_rgb(im, quality=90, sampling="4:4:4") for im in imgs]
    out = {}
    for n_frames in (24, 96, 240):
        # 3 scenes (2 cuts) regardless of n: lengths n//3, n//3, rest
        a = b = n_frames // 3
        frames = [encs[0]] * a + [encs[1]] * b + [encs[2]] * (n_frames - a - b)
        blob = avi_encode_mjpeg(frames, 160, 144)
        rows = [(d, bytearray(blob)) for d in range(8)]
        blobs = spark.createDataFrame(
            rows, "doc_id bigint, blob binary"
        ).repartition(8)
        t0 = time.time()
        n1 = video_scene_segments(
            video_frame_dhash(blobs, stride=1), max_hamming=3
        ).count()
        t_single = time.time() - t0
        t0 = time.time()
        n2 = video_scene_segments_twopass(
            blobs, stride=4, max_hamming=3
        ).count()
        t_two = time.time() - t0
        assert n1 == n2 == 24, (n1, n2)
        out[str(n_frames)] = {
            "single_sec": round(t_single, 3),
            "twopass_sec": round(t_two, 3),
            "speedup": round(t_single / t_two, 2),
        }
    return out


def bpe_timing(spark, sf_dir: str) -> dict:
    from robi_biometric_qdrant_vector_db_service_spark.workload import REGISTRY

    out = {}
    for name in ("bpe_encode_corpus", "bpe_sequence_packing"):
        times = []
        for _ in range(3):
            t0 = time.time()
            REGISTRY[name].run(spark, sf_dir).count()
            times.append(round(time.time() - t0, 3))
        out[name] = {"runs": times, "min": min(times)}
    return out


def main() -> None:
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .appName("microbench-r18")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load0 = os.getloadavg()[0]
    result = {
        "loadavg_start": round(load0, 2),
        "scene_twopass_scaling": scene_scaling(spark),
        "bpe_fixture_timing": bpe_timing(spark, sf_dir),
        "loadavg_end": round(os.getloadavg()[0], 2),
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
