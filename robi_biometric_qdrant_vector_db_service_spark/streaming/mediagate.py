"""Streaming media-ingest gate — the continuous twin of the audio VAD
curation step (SURVEY §2.10 posture: every batch curation op should also
run as a continuous stage), and the first streaming stage to carry
OPAQUE BINARY media columns end-to-end: clips arrive as micro-batches of
(doc_id, blob) rows, each batch runs the IDENTICAL batch VAD plan
(`operators.audio.audio_block_energies` → `audio_active_segments` —
decode, exact block energies, gaps-and-islands), per-clip speech stats
are aggregated, and only clips whose speech-block count clears the gate
are admitted to the sink.  This is the front door of a speech-training
lake: silence-heavy or dead clips never reach the expensive
transcribe/embed stages downstream.

Per-clip work is independent (a clip arrives whole in one row), so the
stage needs no state store and no watermark; the windows inside the VAD
plan run WITHIN each micro-batch, which is legal under foreachBatch (the
serving/changefeed discipline).  Exactly-once under foreachBatch retries:
each batch's admitted rows are written with per-directory overwrite to
``batch=<id>`` — the file source replays a failed trigger with the same
batch id and the same files, so a retry rewrites byte-identical
partitions and the sink cannot double-count.

Scale: the blobs are the bytes; they flow source → executor decode and
never shuffle (the only shuffle is the VAD plan's 20-byte (block, energy)
rows on doc_id, per micro-batch).  Throughput scales with source
partitions; the gate's output is a ~12-byte stats row per admitted clip.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from ._tmpdirs import tracked_mkdtemp
from .drain import drain

_staged_wav_cache: dict[str, str] = {}

GATE_STATS_SCHEMA = "doc_id bigint, n_segments int, speech_blocks int"


def staged_wav_path(spark: SparkSession, sf_dir: str) -> str:
    """Stage the planted VAD WAV corpus as an 8-file parquet dir so the
    file source drains it in several genuine micro-batches.  Staged once
    per sf_dir per process — the corpus is deterministic."""
    if sf_dir not in _staged_wav_cache:
        from ..workload_sources import _vad_corpus_blobs

        out = tracked_mkdtemp(prefix="stream_wav_")
        _vad_corpus_blobs(spark, sf_dir).repartition(8).write.mode(
            "overwrite"
        ).parquet(out)
        _staged_wav_cache[sf_dir] = out
    return _staged_wav_cache[sf_dir]


def media_gate_batch_stats(
    blobs: DataFrame, *, block_sec: float, min_energy: int = 0
) -> DataFrame:
    """The per-clip speech stats the gate keys on — shared verbatim by
    the batch path and every micro-batch: VAD segments rolled up to one
    (doc_id, n_segments, speech_blocks) row per clip that has ANY
    speech (all-silent clips vanish with their segments, which is the
    gate's point)."""
    from ..operators.audio import audio_active_segments, audio_block_energies

    segs = audio_active_segments(
        audio_block_energies(blobs, block_sec=block_sec), min_energy=min_energy
    )
    return segs.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_segments"),
        F.sum("n_blocks").cast("int").alias("speech_blocks"),
    )


def media_gate_stream(
    spark: SparkSession,
    sf_dir: str,
    *,
    block_sec: float,
    min_speech_blocks: int,
) -> DataFrame:
    """Drain the staged WAV corpus through the streaming gate and return
    the admitted clips' stats (doc_id, n_segments, speech_blocks)."""
    path = staged_wav_path(spark, sf_dir)
    sink = tracked_mkdtemp(prefix=f"stream_mediagate_{os.getpid()}_")
    # seed partition: fixed schema for the final read even if every clip
    # is rejected (an empty LocalRelation writes one schema-only file)
    local_frame(spark, [], GATE_STATS_SCHEMA).write.mode("overwrite").parquet(
        os.path.join(sink, "batch=-1")
    )

    def on_batch(batch: DataFrame, batch_id: int) -> None:
        admitted = media_gate_batch_stats(batch, block_sec=block_sec).filter(
            F.col("speech_blocks") >= min_speech_blocks
        )
        admitted.write.mode("overwrite").parquet(
            os.path.join(sink, f"batch={batch_id}")
        )

    stream = (
        spark.readStream.schema("doc_id bigint, blob binary")
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )
    drain(stream, "stream_mediagate", foreach_batch=on_batch)
    return spark.read.parquet(sink).select(
        "doc_id", "n_segments", "speech_blocks"
    )
