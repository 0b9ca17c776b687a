"""Property-based fuzz of the streaming MinHash-LSH near-dup gate
(``streaming/neardup.neardup_pairs_stream``) against a from-scratch
hashlib replica of the WHOLE pipeline: random corpora are staged as
multi-file parquet, drained through the real incremental
foreachBatch/state-table machinery in several micro-batches, and the
union of per-batch pair emissions must equal the reference pair set
(band cohabitation ∧ full-set Jaccard ≥ T) computed in pure Python —
the module's all-data-is-streaming-data invariant, here checked against
an INDEPENDENT implementation rather than the batch twin's SQL.

Also pins the exactly-once claim: a pair discovered in several bands or
whose members share several batches must still be emitted exactly once
(in the batch where its later member arrives).
"""

from __future__ import annotations

import hashlib
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import given, settings
from hypothesis import strategies as st

# registry root first — see test_c4_fuzz.py on the latent import ordering
from robi_biometric_qdrant_vector_db_service_spark import workload as _workload  # noqa: F401
from robi_biometric_qdrant_vector_db_service_spark.streaming.neardup import (
    neardup_pairs_stream,
)
from robi_biometric_qdrant_vector_db_service_spark.streaming.scrub import DOCS_SCHEMA
from robi_biometric_qdrant_vector_db_service_spark.workload_dedup import (
    JACCARD_T,
    MINHASH_AB,
    N_BANDS,
    P,
)

WORDS = ["sun", "moon", "star"]


def _shingles(text: str) -> set[str]:
    toks = text.split(" ")
    if len(toks) >= 3:
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    return {" ".join(toks)}


def _bands(sh: set[str]) -> list[tuple[int, int]]:
    hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % P for s in sh]
    m = [min((a * h + b) % P for h in hs) for a, b in MINHASH_AB]
    return [(m[2 * i], m[2 * i + 1]) for i in range(N_BANDS)]


def ref_pairs(texts: list[str]) -> set[tuple]:
    sh = {i: _shingles(t) for i, t in enumerate(texts)}
    bands = {i: _bands(s) for i, s in sh.items()}
    out = set()
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            if not any(a == b for a, b in zip(bands[i], bands[j])):
                continue
            inter = len(sh[i] & sh[j])
            jac = float(
                Decimal(inter / (len(sh[i]) + len(sh[j]) - inter)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
            if jac >= JACCARD_T:
                out.add((i, j, jac))
    return out


@settings(max_examples=5, deadline=None)
@given(
    texts=st.lists(
        st.lists(st.sampled_from(WORDS), min_size=1, max_size=8).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    n_files=st.sampled_from([1, 3, 5]),
)
def test_stream_gate_equals_hashlib_reference_and_emits_once(
    spark, tmp_path_factory, texts, n_files
):
    sf_dir = str(tmp_path_factory.mktemp("neardup_fuzz_sf"))
    rows = [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)]
    (
        spark.createDataFrame(rows, DOCS_SCHEMA)
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(f"{sf_dir}/documents.parquet")
    )
    emitted = [
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in neardup_pairs_stream(spark, sf_dir).collect()
    ]
    # exactly once: no pair appears in two batches' emissions
    keys = [(a, b) for a, b, _ in emitted]
    assert len(keys) == len(set(keys)), emitted
    assert set(emitted) == ref_pairs(texts)
