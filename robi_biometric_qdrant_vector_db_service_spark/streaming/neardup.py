"""Streaming MinHash-LSH near-dup detection (SURVEY §2.10 posture: every
batch curation op should also run as a continuous stage).

The batch ``minhash_lsh_dups`` pipeline re-expressed as an INCREMENTAL
stream: documents arrive in micro-batches, each batch's shingle/signature/
band chain is the IDENTICAL expression tree the batch query compiles
(``workload_dedup.SPARK_SHINGLES`` / ``SPARK_MINHASHES``), and candidates
are generated by joining the batch's bands against the ACCUMULATED band
store — a new document is compared only against documents that arrived
before it (plus its own batch), never against the future.  Every bucket
cohabitation is discovered exactly once, in the batch where the LATER
member arrives, so the union of per-batch pair emissions equals the batch
pipeline's full pair set regardless of arrival order or batch boundaries —
the all-data-is-streaming-data invariant the oracle pins.

Verification here is exact Jaccard over the FULL shingle sets fetched from
the accumulated document store (``array_intersect`` fold — a deliberate
semantic difference from the batch query's frequency-capped inverted
index: a stream cannot know the final global document frequency of a
shingle, so the incremental gate never drops "stop shingles"; the batch
twin documents the cap as a batch-only optimization).

Scale: state is two append-only tables (bands keyed by (band, key),
documents keyed by doc_id) — in production those are the lake tables this
module writes parquet dirs for, and the per-batch work is the batch plan
over |batch| + matched-bucket rows, never corpus².  The band join keys
both sides on (band, key); the batch side is micro-batch-bounded so AQE
broadcasts it.

Exactly-once under foreachBatch RETRIES (r14 ADVICE, same protocol as the
embedding twin): every state and sink write is keyed by the micro-batch id
(``.../batch=<id>`` hive-style subdirectory, per-directory overwrite), and
state reads filter ``batch < current id`` — a replayed micro-batch
overwrites its own partition and recomputes against byte-identical prior
state, so neither the pair sink nor the band/document stores can
double-count.  The filter is also a partition-prune on the state scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources.catalog import load_table
from .scrub import DOCS_SCHEMA
from ._tmpdirs import tracked_mkdtemp
from .drain import drain

_staged_cache: dict[str, str] = {}

BANDS_SCHEMA = "doc_id bigint, band int, key string"
SH_SCHEMA = "doc_id bigint, sh array<string>"
PAIRS_SCHEMA = "doc1 bigint, doc2 bigint, jaccard double"


def _staged_neardup_docs(spark: SparkSession, sf_dir: str) -> str:
    """Stage documents as 8 parquet files so maxFilesPerTrigger=2 yields
    4 genuine micro-batches — the incremental path is exercised, not just
    a single-batch degenerate run."""
    if sf_dir not in _staged_cache:
        out = tracked_mkdtemp(prefix="stream_neardup_docs_")
        load_table(spark, sf_dir, "documents").repartition(8).write.mode(
            "overwrite"
        ).parquet(out)
        _staged_cache[sf_dir] = out
    return _staged_cache[sf_dir]


def _shingled(batch: DataFrame) -> DataFrame:
    """(doc_id, sh) with the batch pipeline's exact shingle expression."""
    from ..workload_dedup import SPARK_SHINGLES, SPARK_TOKENS

    return batch.select("doc_id", F.expr(SPARK_TOKENS).alias("toks")).select(
        "doc_id", F.expr(SPARK_SHINGLES).alias("sh")
    )


def _banded(sh: DataFrame) -> DataFrame:
    """(doc_id, band, key) with the batch pipeline's exact band keys."""
    from ..workload_dedup import MINHASH_AB, N_BANDS, P, spark_hash

    hashed = sh.select(
        "doc_id", F.expr(f"transform(sh, s -> {spark_hash('s')})").alias("hs")
    )
    minhashes = ", ".join(
        f"array_min(transform(hs, h -> ({a} * h + {b}) % {P}))" for a, b in MINHASH_AB
    )
    sig = hashed.select("doc_id", F.expr(f"array({minhashes})").alias("m"))
    band_keys = F.expr(
        "array("
        + ", ".join(f"concat(m[{2*i}], ',', m[{2*i+1}])" for i in range(N_BANDS))
        + ")"
    )
    return sig.select("doc_id", F.posexplode(band_keys).alias("band", "key"))


def _process_batch(
    batch: DataFrame,
    batch_id: int,
    bands_store: str,
    docs_store: str,
    pairs_sink: str,
) -> None:
    """One micro-batch of the incremental gate, idempotent on ``batch_id``
    — re-invoking with the same id (a foreachBatch RETRY) overwrites the
    same ``batch=<id>`` partitions after recomputing against the identical
    ``batch < id`` prior state (pinned in tests/test_streaming.py)."""
    from ..workload_dedup import JACCARD_T

    sp = batch.sparkSession
    sh_new = _shingled(batch).persist()
    bands_new = _banded(sh_new).persist()
    try:
        bands_new.count()  # materialize before multi-branch reuse
        # batch < id excludes any partial leftover of a failed prior
        # attempt at THIS batch — replay sees byte-identical state.
        # Explicit schema (+ the hive partition column): skips per-batch
        # footer inference over the growing state directories
        seen_bands = (
            sp.read.schema(f"{BANDS_SCHEMA}, batch int")
            .parquet(bands_store)
            .filter(F.col("batch") < batch_id)
            .drop("batch")
        )
        seen_docs = (
            sp.read.schema(f"{SH_SCHEMA}, batch int")
            .parquet(docs_store)
            .filter(F.col("batch") < batch_id)
            .drop("batch")
        )
        # candidates: batch × (seen ∪ batch) bucket cohabitants — each
        # pair surfaces exactly once, when its later member arrives
        all_bands = seen_bands.unionByName(bands_new)
        cand = (
            bands_new.alias("a")
            .join(
                all_bands.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least("a.doc_id", "b.doc_id").alias("doc1"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc2"),
            )
            .distinct()
        )
        docs_all = seen_docs.unionByName(sh_new)
        inter = F.size(F.array_intersect("s1.sh", "s2.sh"))
        union = F.size("s1.sh") + F.size("s2.sh") - inter
        j = inter.cast("double") / union
        verified = (
            cand.join(docs_all.alias("s1"), F.col("doc1") == F.col("s1.doc_id"))
            .join(docs_all.alias("s2"), F.col("doc2") == F.col("s2.doc_id"))
            .select("doc1", "doc2", F.round(j, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= JACCARD_T)
        )
        # idempotent replay: each write owns the batch=<id> partition.
        # The three writes are independent jobs over the two already-
        # materialized caches — submit them concurrently (guide §2.6:
        # actions are only sequential because the driver calls them
        # sequentially) so the batch pays max(write) instead of Σ(write);
        # a retry that reaches none/some/all of them is still idempotent.
        bdir = f"batch={batch_id}"
        _parallel_writes(
            (verified, os.path.join(pairs_sink, bdir)),
            (bands_new, os.path.join(bands_store, bdir)),
            (sh_new, os.path.join(docs_store, bdir)),
        )
    finally:
        sh_new.unpersist()
        bands_new.unpersist()


def _parallel_writes(*jobs: tuple[DataFrame, str]) -> None:
    """Overwrite-write each (df, path) concurrently from a small driver
    thread pool; re-raises the first failure after all complete."""
    from concurrent.futures import ThreadPoolExecutor

    def _w(job: tuple[DataFrame, str]) -> None:
        df, path = job
        df.write.mode("overwrite").parquet(path)

    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        for _ in pool.map(_w, jobs):
            pass


def _seed_state(spark: SparkSession, run: str) -> tuple[str, str, str]:
    """Create the three batch-id-partitioned stores with empty ``batch=-1``
    seed partitions so every read sees a fixed schema and a uniform
    partition layout from the first micro-batch."""
    bands_store = os.path.join(run, "bands")
    docs_store = os.path.join(run, "docs")
    pairs_sink = os.path.join(run, "pairs")
    for store, schema in (
        (bands_store, BANDS_SCHEMA),
        (docs_store, SH_SCHEMA),
        (pairs_sink, PAIRS_SCHEMA),
    ):
        local_frame(spark, [], schema).write.mode("overwrite").parquet(
            os.path.join(store, "batch=-1")
        )
    return bands_store, docs_store, pairs_sink


def neardup_pairs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the bounded staged source through the incremental LSH gate and
    return every admitted near-dup pair (doc1 < doc2, exact full-set
    jaccard ≥ JACCARD_T, rounded 6 dp)."""
    path = _staged_neardup_docs(spark, sf_dir)
    run = tracked_mkdtemp(prefix=f"stream_neardup_state_{os.getpid()}_")
    bands_store, docs_store, pairs_sink = _seed_state(spark, run)

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        _process_batch(batch, batch_id, bands_store, docs_store, pairs_sink)

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )
    # Micro-batch plan posture for the incremental near-dup gates (guide
    # §2.1/§2.2), held for the whole drain so every foreachBatch job plans
    # under it: shuffle partitions pinned to the state-shard band (per-batch
    # shuffles carry |batch| + matched-bucket rows, not a core-count's
    # worth), and AQE partition COALESCING off — every post-shuffle
    # partition is already request-sized, so coalescing buys nothing while
    # each coalesce round inserts an extra re-optimization barrier into a
    # batch that runs ~10 tiny stages (measured on the embedding gate:
    # coalescing off is ~1–2 s/drain faster at identical results, and it
    # keeps the verify stage's n-way parallelism for the Arrow cosine /
    # jaccard kernels instead of folding it to 1–2 tasks by byte size).
    # AQE itself stays ON — it still picks broadcast joins from runtime
    # sizes (measured ~2 s faster than static planning here).  At scale the
    # partition count is sized to sustained per-trigger throughput instead.
    drain(
        stream,
        "stream_neardup",
        foreach_batch=on_batch,
        conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    )
    return spark.read.parquet(pairs_sink).select("doc1", "doc2", "jaccard")
