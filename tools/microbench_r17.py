"""r17 micro-benches: measured evidence for the new operators' scale
claims (the BENCH_NOTES evidence format the BPE trainer introduced in
r16).

1. bitext_margin_pairs cost vs pool size — the margin math is two window
   aggregations over candidate edges; with the exact candidate stage the
   edge count is |S|x|T|, so wall time should scale ~quadratically with
   pool size (and the 100 TB posture swaps the candidate stage for an
   ANN family member precisely to break that).
2. video_scene_segments cost vs frame count — decode dominates; the
   segmentation window itself is a 36-byte-row shuffle, so per-frame
   cost should be flat as frames grow.
3. matryoshka stage-1 narrowing — prefix-16 coarse scoring vs full-dim
   exact over the same pool; the prefix stage's win at rest is scan
   bytes (8x fewer), locally visible as less cosine arithmetic.

Usage: python tools/microbench_r17.py
Prints one markdown table per experiment; paste into BENCH_NOTES_r17.md.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import numpy as np  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .appName("microbench-r17")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    rng = np.random.default_rng(3)

    from robi_biometric_qdrant_vector_db_service_spark.operators.ann import (
        bitext_margin_pairs,
        matryoshka_rescore_topk,
    )

    def pool(n, prefix):
        vecs = rng.normal(size=(n, 64))
        return spark.createDataFrame(
            [(i, [float(v) for v in vecs[i]]) for i in range(n)],
            f"{prefix}_id bigint, {prefix}_emb array<double>",
        ).cache()

    print("\n### bitext_margin_pairs vs pool size (k=4, exact candidates)\n")
    print("| pool (each side) | edges | best-of-3 sec |")
    print("|---|---|---|")
    for n in (250, 500, 1000, 2000):
        src, tgt = pool(n, "src"), pool(n, "tgt")
        src.count(), tgt.count()
        best = min(
            _time(lambda: bitext_margin_pairs(src, tgt, k=4).count())
            for _ in range(3)
        )
        print(f"| {n} | {n * n:,} | {best:.2f} |")

    print("\n### video_scene_segments vs frame count (segmentation only)\n")
    print("| frames/doc x docs | rows | best-of-3 sec |")
    print("|---|---|---|")
    for frames in (9, 90, 900):
        rows = spark.range(120).selectExpr(
            "id AS doc_id",
            f"explode(sequence(0, {frames - 1})) AS frame_idx",
        ).selectExpr(
            "doc_id",
            "frame_idx",
            # a cut every 3rd frame: hash flips 8 bits
            "CAST(IF(frame_idx % 3 = 0, 255, 0) AS BIGINT) AS b0",
            "CAST(0 AS BIGINT) AS b1",
            "CAST(0 AS BIGINT) AS b2",
            "CAST(0 AS BIGINT) AS b3",
        ).cache()
        rows.count()
        from robi_biometric_qdrant_vector_db_service_spark.operators.video import (
            video_scene_segments,
        )

        best = min(
            _time(lambda: video_scene_segments(rows, max_hamming=3).count())
            for _ in range(3)
        )
        print(f"| {frames} x 120 | {120 * frames:,} | {best:.2f} |")

    print("\n### matryoshka stage-1 narrowing (2000-vec pool, 8 probes)\n")
    corpus = pool(2000, "vec").withColumnRenamed("vec_emb", "embedding").cache()
    corpus.count()
    probes = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    ).cache()
    probes.count()
    print("| prefix_dims | best-of-3 sec |")
    print("|---|---|")
    for pd_ in (16, 64):
        best = min(
            _time(
                lambda: matryoshka_rescore_topk(
                    corpus, probes, k=10, prefix_dims=pd_, oversample=3
                ).count()
            )
            for _ in range(3)
        )
        print(f"| {pd_} | {best:.2f} |")
    spark.stop()


def _time(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


if __name__ == "__main__":
    main()
