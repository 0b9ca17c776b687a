"""Batch-built approximate-index search paths (SURVEY §7 phase 4).

The reference delegates ANN to Qdrant's HNSW (configured at
src/core/qdrant_client.py:109-115, executed remotely) with INT8 scalar
quantization + rescore (qdrant_client.py:129-138,342-348).  A batch Spark
engine doesn't serve point lookups from a graph; instead it *pre-buckets*
the corpus so a search touches a candidate subset, then rescores exactly:

- IVF      coarse quantizer = per-label centroids (deterministic: the
           fixture's labels are the cluster assignment; a production build
           would k-means them — same plan shape), probe top-``nprobe``
           cells per query.
- sign-LSH random-hyperplane signs reduced to axis-aligned sign bits
           (deterministic for oracle parity; rotate with a fixed seed
           matrix in production), bucket equi-join.
- INT8     symmetric scalar quantization ±127, integer dot-product
           prescreen of ``oversample × k``, exact float rescore — the
           direct analogue of Qdrant's quantized search params
           (oversampling 3.0, settings.py:48-51).

All three change the PHYSICAL plan only: candidates ⊆ corpus, rescoring
uses the same exact cosine as operators.search, and
tests/test_ann_recall.py measures recall@k against the exact path the way
the reference reports Recall@10 = 99.2% (PERFORMANCE_OPTIMIZATION_GUIDE.md:88).

Scale: the bucket id is a partitioning key.  At 100 TB the corpus is
written partitioned by bucket, so a probe prunes partitions at scan time
(partition pruning visible in .explain as PartitionFilters) and the
per-query candidate set is corpus/|buckets|, not the corpus.
"""

from __future__ import annotations

import json
import math
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import (
    cosine_sql,
    dot_sql,
    norm_sql,
    probe_literal,
    probe_norm_sql,
)
from ..session import local_frame
from .search import top_k, with_probe

_DEC12 = "decimal(28,12)"


def label_centroids(corpus: DataFrame) -> DataFrame:
    """Per-label mean embedding — the IVF coarse codebook.

    Dimension sums accumulate in DECIMAL so the centroid is identical under
    any partitioning (and matches the sequential oracle bit-for-bit).
    Returns (label, centroid array<double>).
    """
    exploded = corpus.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select("label", "pos", F.col("v").cast("double").cast(_DEC12).alias("v"))
    dim_means = exploded.groupBy("label", "pos").agg(
        (F.sum("v").cast("double") / F.count("*")).alias("m")
    )
    return dim_means.groupBy("label").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)").alias(
            "centroid"
        )
    )


def kmeans_centroids(
    corpus: DataFrame, k: int = 8, iters: int = 2, *, id_col: str = "vec_id"
) -> DataFrame:
    """Deterministic Lloyd's k-means as a batch index-build job — the
    production coarse quantizer for IVF (label_centroids is the fixture
    shortcut).  Init = the first ``k`` vectors by id (seeded-deterministic
    like the reference's fixtures); each iteration is
    assign (cosine argmax, id tiebreak) → DECIMAL-exact per-cell means.
    Everything is DataFrame ops: the corpus is scanned ``iters`` times and
    never collected.

    Returns (cell int, centroid array<double>).
    """
    cents = (
        corpus.filter(F.col(id_col) < k)
        .select(
            F.col(id_col).cast("int").alias("cell"),
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("centroid"),
        )
    )
    spark = corpus.sparkSession
    for _ in range(iters):
        assigned = _assign_cells(corpus, cents)
        exploded = assigned.select(
            "cell", F.posexplode("embedding").alias("pos", "v")
        ).select("cell", "pos", F.col("v").cast("double").cast(_DEC12).alias("v"))
        dim_means = exploded.groupBy("cell", "pos").agg(
            (F.sum("v").cast("double") / F.count("*")).alias("m")
        )
        cents = dim_means.groupBy("cell").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, m))), x -> x.m)"
            ).alias("centroid")
        )
        # The codebook is model state, k×D doubles — pin it driver-side
        # between iterations (as MLlib's KMeans does) so iteration i+1's
        # plan starts from a literal, not a re-execution of iterations
        # 1..i (lineage otherwise makes total work quadratic in iters).
        cents = local_frame(
            spark, cents.collect(), "cell int, centroid array<double>"
        )
    return cents


def _assign_cells(corpus: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment (cosine argmax, cell-id tiebreak) as a
    ``max_by`` hash aggregate — partial map-side argmax, no sort, instead of
    a per-vector window."""
    scored = corpus.crossJoin(F.broadcast(cents)).withColumn(
        "cscore", F.expr(cosine_sql("embedding", "centroid"))
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.expr(
                "max_by(struct(embedding AS embedding, cell AS cell), "
                "struct(cscore AS s, -cell AS c))"
            ).alias("best")
        )
        .select("vec_id", "best.embedding", "best.cell")
    )


def kmeans_ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 2,
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF search over the k-means codebook: probe the top-``nprobe`` cells
    per query, exact rescore inside.  At scale the assignment is a write-time
    partition key, so probing prunes partitions at scan time.  ``cents``
    lets callers supply the pre-trained codebook (index training is a
    background build; serving should not retrain per query).

    Returns (q_id, vec_id, rank, score)."""
    if cents is None:
        cents = kmeans_centroids(corpus, k=n_cells)
    assigned = _assign_cells(corpus, cents)
    cell_scores = probes.crossJoin(F.broadcast(cents)).withColumn(
        "cscore", F.expr(cosine_sql("q_emb", "centroid"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cscore"), F.col("cell"))
    probe_cells = (
        cell_scores.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= nprobe)
        .select("q_id", "q_emb", "cell")
    )
    cand = assigned.join(F.broadcast(probe_cells), "cell")
    scored = cand.withColumn("score", F.expr(cosine_sql("embedding", "q_emb")))
    w2 = Window.partitionBy("q_id").orderBy(F.desc("score"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank", F.round("score", 6).alias("score"))
    )


def ivf_topk(
    corpus: DataFrame, probes: DataFrame, k: int = 5, nprobe: int = 2
) -> DataFrame:
    """IVF search: score query × centroids (tiny, broadcast both ways),
    keep top-``nprobe`` cells, scan only those cells' vectors exactly.

    Returns (q_id, vec_id, rank, score).
    """
    cents = label_centroids(corpus)
    cell_scores = probes.crossJoin(F.broadcast(cents)).withColumn(
        "cscore", F.expr(cosine_sql("q_emb", "centroid"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cscore"), F.col("label"))
    probe_cells = (
        cell_scores.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= nprobe)
        .select("q_id", "q_emb", "label")
    )
    cand = corpus.join(F.broadcast(probe_cells), "label")
    scored = cand.withColumn("score", F.expr(cosine_sql("embedding", "q_emb")))
    w2 = Window.partitionBy("q_id").orderBy(F.desc("score"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank", F.round("score", 6).alias("score"))
    )


def signlsh_bucket_expr(col: str, nbits: int) -> str:
    """Bucket id from the sign bits of the first ``nbits`` dimensions
    (1-based element_at on both engines)."""
    terms = " + ".join(
        f"CASE WHEN element_at({col}, {d + 1}) >= 0 THEN {1 << d} ELSE 0 END"
        for d in range(nbits)
    )
    return f"CAST({terms} AS INT)"


def signlsh_topk(
    corpus: DataFrame, probes: DataFrame, k: int = 5, nbits: int = 6
) -> DataFrame:
    """Sign-LSH: 2^nbits hash buckets; candidates share the query's bucket.
    The bucket id is the partition key at scale (partition-pruned scan).

    Returns (q_id, vec_id, rank, score).
    """
    bucketed = corpus.withColumn("bucket", F.expr(signlsh_bucket_expr("embedding", nbits)))
    qb = probes.withColumn("bucket", F.expr(signlsh_bucket_expr("q_emb", nbits)))
    cand = bucketed.join(F.broadcast(qb), "bucket")
    scored = cand.withColumn("score", F.expr(cosine_sql("embedding", "q_emb")))
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank", F.round("score", 6).alias("score"))
    )


INT8_QUANT_EXPR = (
    "transform({col}, x -> CAST(greatest(least(round(CAST(x AS DOUBLE) * 127), 127), -127) AS INT))"
)


def int8_codes(vec: Sequence[float]) -> list[int]:
    """``INT8_QUANT_EXPR`` evaluated on the driver for one probe vector:
    ``x * 127`` rounded half away from zero (Spark's ``round`` of a
    DOUBLE is HALF_UP), clamped to ±127.  Spark orders NaN above every
    number, so ``least(NaN, 127)`` is 127 and a NaN element codes as 127;
    ±inf clamp like any large value.  Clamping first is exact because
    the bounds are integers, and ``a - floor(a)`` is exact for
    ``|a| <= 127``.  Pinned against Spark in tests/test_probe_codes.py."""
    out = []
    for x in vec:
        v = float(x) * 127
        if math.isnan(v):
            out.append(127)
            continue
        a = min(abs(v), 127.0)
        r = math.floor(a)
        r += a - r >= 0.5
        out.append(-r if v < 0 else r)
    return out


def _rescore_survivors(
    corpus: DataFrame,
    survivors: DataFrame,
    k: int,
    keep: tuple = (),
    *,
    score_threshold: float | None = None,
) -> DataFrame:
    """The one exact stage 2 of the two-stage rescore family for query
    frames (INT8, matryoshka and BQ here, PQ-ADC and IVFPQ in
    operators.pq): each operator owns only its stage 1, which yields
    ``survivors`` (q_id, q_emb, vec_id) — ``queries × oversample × k``
    rows, request-sized by construction.  They broadcast onto the float
    column ``corpus.select("vec_id", "embedding", *keep)``, are rescored
    with exact cosine, and are ranked by (score DESC, vec_id), the
    reference's rescore=True step (qdrant_client.py:129-138).

    ``keep`` names corpus columns this stage's scan reads and carries
    unchanged into each ranked row (after ``score``): the hits' payload,
    so a caller needs no second corpus scan to decorate them.  Stage 1
    never reads them, and ``keep=()`` leaves the plan as it was.
    ``score_threshold`` keeps the ranked rows whose rounded score
    reaches it.

    A single driver-held probe does not come here: its stage 1 carries
    the survivors' vectors and payload, and ``_survivors_rescored``
    rescores them in place, with no broadcast, join or second scan.

    One lazy plan: building it starts no Spark job, and both stages run
    only when the caller collects (tests/test_rescore_path.py)."""
    rescored = corpus.select("vec_id", "embedding", *keep).join(
        F.broadcast(survivors), "vec_id"
    )
    scored = rescored.withColumn("score", F.expr(cosine_sql("embedding", "q_emb")))
    order = [F.desc("score"), F.col("vec_id")]
    score = F.round("score", 6).alias("score")
    ranked = top_k(scored, k, order, ["q_id", "vec_id", "rank", score, *keep])
    if score_threshold is None:
        return ranked
    return ranked.filter(F.col("score") >= score_threshold)


def _stage1(
    corpus: DataFrame,
    probes: DataFrame | Column,
    companion: str,
    derive: str,
    derived: dict,
) -> DataFrame:
    """Stage 1's input rows: (vec_id, ``companion``) per corpus row and
    the probe-side ``derived`` columns (``with_probe``), for the caller to
    add its stage-1 score to.  The companion is the MATERIALIZED column
    when the corpus carries it (stage 1 then scans only (vec_id,
    companion) — ReadSchema excludes ``embedding``, pinned in
    tests/test_plans.py), else ``derive`` folded into the scan
    projection; both give the same values.

    A single probe Column keeps every corpus column beside them, and the
    probe as ``q_emb``: stage 2 rescores the survivors from stage 1's take
    (``_survivors_rescored``), so the one scan reads what both stages
    need, and the optimizer prunes the rest."""
    col = F.col(companion) if companion in corpus.columns else F.expr(derive)
    if isinstance(probes, DataFrame):
        return with_probe(
            corpus.select("vec_id", col.alias(companion)), probes, derived=derived
        )
    return corpus.withColumns({companion: col, "q_emb": probes, **derived})


def _survivors_rescored(
    corpus: DataFrame,
    probes: DataFrame | Column,
    scored: DataFrame,
    order: list,
    n: int,
    k: int,
    keep: tuple,
    score_threshold: float | None,
    probe_norm: str | None = None,
) -> DataFrame:
    """Stage 1's ``n`` best rows of ``scored`` under ``order``, rescored
    with exact cosine and ranked by (score DESC, vec_id).

    For a query frame they are the survivors (q_id, q_emb, vec_id) of
    ``_rescore_survivors``.  For a single probe Column the take itself
    projects (vec_id, embedding, q_emb, *keep), so its ≤ ``n`` rows are
    scored against the probe (its norm ``probe_norm`` a literal,
    ``functions.vector.probe_norm_sql``) and ranked by a second take:
    ``TakeOrderedAndProject(k)`` over ``TakeOrderedAndProject(n)`` over
    one scan, one Spark job with no exchange.  ``score_threshold``
    filters the k ranked rows on their rounded score; the rows that pass
    are a prefix of the ranking, so they are the rows a filter before the
    take keeps, and each survivor is scored once.  The result is
    (vec_id, score, *keep) in rank order."""
    if isinstance(probes, DataFrame):
        survivors = top_k(scored, n, order, ["q_id", "q_emb", "vec_id"])
        return _rescore_survivors(
            corpus, survivors, k, keep, score_threshold=score_threshold
        )
    survivors = top_k(
        scored, n, order, ["vec_id", "embedding", "q_emb", *keep], per=None
    )
    rescored = survivors.withColumn(
        "score", F.expr(cosine_sql("embedding", "q_emb", probe_norm))
    )
    ranked = top_k(
        rescored, k, [F.desc("score"), F.col("vec_id")],
        ["vec_id", F.round("score", 6).alias("score"), *keep], per=None,
    )
    if score_threshold is None:
        return ranked
    return ranked.filter(F.col("score") >= score_threshold)


def int8_rescore_topk(
    corpus: DataFrame,
    probes: DataFrame | Sequence[float],
    k: int = 10,
    oversample: int = 3,
    keep: tuple = (),
    score_threshold: float | None = None,
) -> DataFrame:
    """O4 scalar quantization + rescore (qdrant_client.py:129-138):
    stage 1 ranks by the exact-integer INT8 dot product, stage 2
    rescores the surviving ``oversample × k`` with full-precision cosine.

    Stage 1 reads the ``e8`` companion column when the corpus carries it
    MATERIALIZED (written by VectorStore at ingest, or the staged rescore
    layout in workload_ann) — the 4× at-rest scan-byte win — and
    otherwise quantizes ``embedding`` in the scan projection.  ``keep``
    and ``score_threshold`` apply to stage 2's ranked rows.

    ``probes`` is a (q_id, q_emb) frame, whose survivors stage 2
    (``_rescore_survivors``) broadcasts onto a second scan of the float
    vectors, or one driver-held vector: it becomes a
    ``functions.vector.probe_literal`` Column, its INT8 codes fold to one
    literal computed by ``int8_codes`` (so stage 1 does not quantize the
    probe once per corpus row), stage 1's take carries its
    ``oversample × k`` rows' ``embedding`` and ``keep`` to a rescore of
    just those rows (``_survivors_rescored``: one scan, one Spark job),
    and the result is (vec_id, score, *keep) in rank order.

    Returns (q_id, vec_id, rank, score, *keep) — final ranking by exact
    score.
    """
    int_dot = "aggregate(zip_with(e8, p8, (x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)), CAST(0 AS BIGINT), (a, v) -> a + v)"
    probes, p8, p_norm = _probe_and_code(
        probes, INT8_QUANT_EXPR.format(col="q_emb"), int8_codes, "int"
    )
    scored = _stage1(
        corpus, probes, "e8", INT8_QUANT_EXPR.format(col="embedding"), {"p8": p8}
    ).withColumn("iscore", F.expr(int_dot))
    return _survivors_rescored(
        corpus, probes, scored, [F.desc("iscore"), F.col("vec_id")],
        oversample * k, k, keep, score_threshold, p_norm,
    )


def matryoshka_rescore_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    prefix_dims: int = 16,
    oversample: int = 3,
) -> DataFrame:
    """Matryoshka (MRL) truncated-dimension search: stage 1 ranks by
    cosine over only the FIRST ``prefix_dims`` dimensions of both sides
    (matryoshka-trained embeddings front-load information, so a short
    prefix is a usable coarse score), stage 2 (``_rescore_survivors``)
    rescores the surviving ``oversample × k`` candidates with
    full-dimension cosine.

    This is the quantization-free member of the rescore family
    (INT8 / BQ / PQ-ADC): instead of narrowing the VALUE width it
    narrows the DIMENSION count — at rest the prefix is a separate
    ``dims/prefix_dims``-times-smaller column.  Stage 1 reads it when
    the corpus carries it materialized (``e_pre{prefix_dims}``, written
    by VectorStore at ingest or the staged rescore layout in
    workload_ann) — the same scan-byte win the quantized tiers get, with
    no codebook to train or drift — and otherwise slices ``embedding``
    in the scan projection.

    Determinism: both stages are double-precision folds over the same
    float32 inputs (the slice changes which elements are summed, not how
    they are summed), so survivor sets match the oracle exactly —
    the same contract the exact-cosine rows already rely on.

    Returns (q_id, vec_id, rank, score) — final ranking by exact
    full-dimension score, vec_id tiebreak at both stages.
    """
    if prefix_dims < 1:
        raise ValueError(
            f"matryoshka_rescore_topk: prefix_dims must be >= 1, got {prefix_dims}"
        )
    companion = f"e_pre{prefix_dims}"
    scored = _stage1(
        corpus, probes, companion, f"slice(embedding, 1, {prefix_dims})",
        {"p_pre": f"slice(q_emb, 1, {prefix_dims})"},
    ).withColumn("pscore", F.expr(cosine_sql(companion, "p_pre")))
    return _survivors_rescored(
        corpus, probes, scored, [F.desc("pscore"), F.col("vec_id")],
        oversample * k, k, (), None,
    )


# --------------------------------------------------------------------------
# Binary quantization (Qdrant BinaryQuantization, the 32×-compression tier
# below INT8: one SIGN BIT per dimension, Hamming-distance prescreen,
# exact oversampled rescore — qdrant_client.py:129-138 configures the
# quantization/rescore pattern; BQ is its public 1-bit variant).
# --------------------------------------------------------------------------

BQ_WORD_BITS = 32  # bits packed per BIGINT word: shift stays < 32, every
# word non-negative, and the layout generalizes past 64 dims (words array)


def bq_words_expr(col: str, dims: int) -> str:
    """Sign-bit pack ``col`` (array<float>, ``dims`` wide) into
    ``ceil(dims/32)`` BIGINT words — bit i of word w is set when
    ``col[w*32 + i] > 0``.  Pure fused codegen (slice/transform/aggregate
    fold); at rest the packed copy is 1/32 the scan bytes of the float
    vectors, which is the 100 TB point of BQ."""
    words = []
    for w in range(0, dims, BQ_WORD_BITS):
        words.append(
            f"aggregate(transform(slice({col}, {w + 1}, {BQ_WORD_BITS}), "
            f"(x, i) -> IF(CAST(x AS DOUBLE) > 0.0D, "
            f"shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), "
            f"CAST(0 AS BIGINT), (a, v) -> a | v)"
        )
    return f"array({', '.join(words)})"


def bq_words_dynamic_expr(col: str) -> str:
    """``bq_words_expr`` with the word count derived from ``size(col)``
    at run time instead of a compile-time ``dims`` literal — the store's
    write-path packer, where the collection dimension is data, not a
    constant.  Produces words identical to ``bq_words_expr(col, dims)``
    for any ``dims == size(col)`` (pinned in tests/test_ann_recall.py)."""
    return (
        f"transform(sequence(0, (size({col}) - 1) div {BQ_WORD_BITS}), w -> "
        f"aggregate(transform(slice({col}, w * {BQ_WORD_BITS} + 1, {BQ_WORD_BITS}), "
        f"(x, i) -> IF(CAST(x AS DOUBLE) > 0.0D, "
        f"shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), "
        f"CAST(0 AS BIGINT), (a, v) -> a | v))"
    )


def bq_words(vec: Sequence[float]) -> list[int]:
    """``bq_words_dynamic_expr`` evaluated on the driver for one probe
    vector: bit ``i`` of word ``w`` is set when element ``w*32 + i`` is
    ``> 0.0`` under Spark's ordering, where NaN is above every number
    (so a NaN sets its bit and -0.0 does not).  The word count is
    ``(size - 1) div 32 + 1`` with truncating ``div``, so an empty
    vector packs to one zero word, as in Spark.  Pinned against Spark in
    tests/test_probe_codes.py."""
    values = [float(x) for x in vec]
    words = []
    for w in range(max(1, -(-len(values) // BQ_WORD_BITS))):
        word = 0
        for i, x in enumerate(values[w * BQ_WORD_BITS : (w + 1) * BQ_WORD_BITS]):
            if x > 0.0 or math.isnan(x):
                word |= 1 << i
        words.append(word)
    return words


def _probe_and_code(
    probes: DataFrame | Sequence[float],
    derive: str,
    twin: Callable[[Sequence[float]], list[int]],
    elem: str,
) -> tuple[DataFrame | Column, str | Column, str | None]:
    """Stage 1's probe, its quantized code and its norm for stage 2.  A
    query frame keeps its plan: the code is ``derive`` (SQL over
    ``q_emb``) per query, and stage 2 folds each probe's norm.  One
    driver-held vector becomes a ``probe_literal`` Column, its code is
    computed on the driver by ``twin`` and folded to one ``array<elem>``
    literal, so no corpus row re-derives it, and its norm is a literal
    (``probe_norm_sql``)."""
    if isinstance(probes, DataFrame):
        return probes, derive, None
    vec = [float(x) for x in probes]
    probe = probe_literal(vec)  # rejects what has no exact spelling
    code = F.from_json(F.lit(json.dumps(twin(vec))), f"array<{elem}>")
    return probe, code, probe_norm_sql(vec)


def bq_hamming_topk(
    corpus: DataFrame,
    probes: DataFrame | Sequence[float],
    k: int = 10,
    *,
    oversample: int = 4,
    dims: int | None = 64,
    keep: tuple = (),
    score_threshold: float | None = None,
) -> DataFrame:
    """O4 binary quantization + oversampled exact rescore: stage 1 ranks
    candidates by the HAMMING distance between sign-bit codes (popcount
    of XOR — integer-exact on both engines, so survivors are
    deterministic with the (hamming, vec_id) tiebreak), stage 2
    rescores the surviving ``oversample × k`` with full-precision cosine
    (``_survivors_rescored``, as in ``int8_rescore_topk``).

    Plan shape (query frame): probe codes broadcast; stage 1 reads the
    ``bq{dims}`` companion column when the corpus carries it MATERIALIZED
    (written by VectorStore at ingest or the staged rescore layout in
    workload_ann) — 1 BIGINT word per 32 dims, the 32× at-rest scan-byte
    win — and otherwise packs ``embedding`` in the scan projection.  The
    two ranking windows are the only shuffles, same as
    ``int8_rescore_topk``.

    ``dims=None`` switches to the dim-agnostic pack (word count from
    ``size(q_emb)`` at run time) and the store's ``bq_code`` companion
    name — the VectorStore serving path, where the collection dimension
    is data, not a compile-time literal.  ``keep`` and
    ``score_threshold`` apply to stage 2's ranked rows, and ``probes``
    may be one driver-held vector, as in ``int8_rescore_topk``: its
    sign-bit words fold to one literal (``bq_words``; the dim-agnostic
    pack, so only with ``dims=None``), and stage 1's take carries its
    survivors' vectors and payload to their rescore (one Spark job).

    Returns (q_id, vec_id, rank, score, *keep) — final ranking by exact
    score.
    """

    def pack(col: str) -> str:
        if dims is None:
            return bq_words_dynamic_expr(col)
        return bq_words_expr(col, dims)

    companion = "bq_code" if dims is None else f"bq{dims}"
    hamming = (
        f"aggregate(zip_with({companion}, q_code, (a, b) -> bit_count(a ^ b)), "
        "0, (acc, v) -> acc + v)"
    )
    if dims is not None and not isinstance(probes, DataFrame):
        raise ValueError("a single probe vector takes dims=None")
    probes, q_code, p_norm = _probe_and_code(
        probes, pack("q_emb"), bq_words, "bigint"
    )
    scored = _stage1(
        corpus, probes, companion, pack("embedding"), {"q_code": q_code}
    ).withColumn("hamming", F.expr(hamming))
    return _survivors_rescored(
        corpus, probes, scored, [F.asc("hamming"), F.col("vec_id")],
        oversample * k, k, keep, score_threshold, p_norm,
    )


def bitext_margin_pairs(
    src: DataFrame,
    tgt: DataFrame,
    *,
    k: int = 4,
    threshold: float = 1.0,
) -> DataFrame:
    """Margin-based bitext mining — the CCMatrix/LASER pipeline operator
    that extracts parallel sentence pairs from two monolingual embedding
    pools for MT training data: raw cosine over-selects hub sentences
    (points that are close to EVERYTHING), so each candidate pair's
    cosine is normalized by the average of both endpoints' k-NN cosines
    into the other pool:

        margin(x, y) = cos(x, y) /
                       ((avg_{z in NNk(x, tgt)} cos(x, z)
                         + avg_{w in NNk(y, src)} cos(y, w)) / 2)

    and a pair is mined when y is x's best margin match AND the margin
    clears ``threshold`` (margin > 1 means "closer than your usual
    neighborhood").

    Inputs are (src_id, src_emb) and (tgt_id, tgt_emb); output is one
    (src_id, tgt_id, margin) row per mined pair.

    Determinism: k-NN sets are exact ranks by (cosine DESC, id); the
    neighborhood averages are sums of the same double cosines divided by
    the same count, so the oracle reproduces margins bit-for-bit — the
    contract the exact-cosine rows already rely on.

    Scale: candidate generation here is the exact broadcast cross-score
    (fixture pools are small); at 100 TB the candidate stage swaps for
    any family member above (sign-LSH buckets, IVF cells — the margin
    math only needs each point's top-k candidate list, not all pairs).
    The margin normalization itself is two window aggregations over the
    candidate edges, shuffled once per side on the endpoint id — work
    proportional to candidates, never to the pool cross product."""
    if k < 1:
        raise ValueError(f"bitext_margin_pairs: k must be >= 1, got {k}")
    # hoist each side's norm out of the cross product: ||x|| is a function
    # of the row alone, so computing it per POOL row (n + m evaluations)
    # instead of inside cosine_sql per PAIR (3 lambda folds × n·m) cuts the
    # candidate stage's dominant cost 3× with bit-identical doubles — the
    # same greatest(sqrt(dot),1e-12) factors, multiplied in the same order
    sn = src.withColumn(
        "src_n", F.expr(f"greatest({norm_sql('src_emb')}, 1e-12)")
    )
    tn = tgt.withColumn(
        "tgt_n", F.expr(f"greatest({norm_sql('tgt_emb')}, 1e-12)")
    )
    pairs = sn.crossJoin(F.broadcast(tn)).select(
        "src_id",
        "tgt_id",
        (
            F.expr(dot_sql("src_emb", "tgt_emb"))
            / (F.col("src_n") * F.col("tgt_n"))
        ).alias("cos"),
    )
    return _margin_mine(pairs, k, threshold)


def _margin_mine(pairs: DataFrame, k: int, threshold: float) -> DataFrame:
    """Shared margin-normalization tail over a candidate edge set
    (src_id, tgt_id, cos): rank each endpoint's candidates, average its
    top-min(k, degree) cosines, emit each src's best margin match above
    ``threshold``.

    Plan shape: ONE evaluation of the candidate edges flowing through
    three slim (ids + cos) exchanges — rx on the src_id shuffle, then
    ry AND the a_tgt window on the tgt_id shuffle, then a_src, margin
    and the best-match rank all on the final src_id shuffle (windows
    keyed alike share their exchange).  The r17 layout re-evaluated the
    whole candidate stage three times (two groupBy branches joined back
    to the edges); this computes identical DECIMAL-exact averages as
    same-key window aggregates, so the cross-score runs once and the
    joins vanish — 25 s → ~1 s on the fixture, same bytes at scale.

    Neighborhood sums accumulate in DECIMAL (the label_centroids trick)
    so the average — and therefore the margin — is identical under any
    partitioning and matches the sequential oracle bit-for-bit.  Divide
    by the ACTUAL neighborhood size (count, = min(k, degree)), not the
    constant k: a counterpart pool smaller than k otherwise deflates
    the average and silently inflates every margin."""
    wx = Window.partitionBy("src_id").orderBy(F.desc("cos"), F.col("tgt_id"))
    wy = Window.partitionBy("tgt_id").orderBy(F.desc("cos"), F.col("src_id"))
    ws = Window.partitionBy("src_id")
    wt = Window.partitionBy("tgt_id")
    in_k = lambda r: F.col(r) <= k  # noqa: E731
    dec_cos = F.col("cos").cast(_DEC12)

    def _avg(rank_col, w):
        s = F.sum(F.when(in_k(rank_col), dec_cos)).over(w).cast("double")
        n = F.count(F.when(in_k(rank_col), F.lit(1))).over(w)
        return s / n

    margined = (
        pairs.withColumn("rx", F.row_number().over(wx))
        .withColumn("ry", F.row_number().over(wy))
        .withColumn("a_tgt", _avg("ry", wt))
        .withColumn("a_src", _avg("rx", ws))
        .withColumn("margin", F.col("cos") / ((F.col("a_src") + F.col("a_tgt")) / 2))
    )
    wbest = Window.partitionBy("src_id").orderBy(F.desc("margin"), F.col("tgt_id"))
    return (
        margined.withColumn("best", F.row_number().over(wbest))
        .filter((F.col("best") == 1) & (F.col("margin") > threshold))
        .select("src_id", "tgt_id", F.round("margin", 6).alias("margin"))
    )


def bitext_margin_pairs_lsh(
    src: DataFrame,
    tgt: DataFrame,
    *,
    k: int = 4,
    threshold: float = 1.0,
    nbits: int = 6,
) -> DataFrame:
    """`bitext_margin_pairs` with its 100 TB candidate stage made real:
    instead of the exact cross-score, candidate edges are the pairs
    sharing a sign-LSH bucket (the `signlsh_topk` quantizer), so the
    edge count is Σ per-bucket |S_b|×|T_b| — corpus-pair work collapses
    to bucket-pair work, and the bucket id is a write-time partition
    key at scale.  The margin math is IDENTICAL, computed over the
    candidate edge set: each endpoint's neighborhood average uses its
    top-min(k, degree) candidate cosines (a point with fewer than k
    bucket-mates averages what it has; a point with none mines
    nothing), DECIMAL-summed so the margin is partition-order-
    independent and oracle-exact.

    Approximation is a PLAN property (SURVEY §7 risk 4): the oracle
    replicates the same bucketing deterministically, and the recall
    cost vs the exact variant is measured in tests/test_ann_recall.py —
    never silently substituted.

    Returns (src_id, tgt_id, margin) like the exact variant."""
    if k < 1:
        raise ValueError(f"bitext_margin_pairs_lsh: k must be >= 1, got {k}")
    # per-side norms hoisted out of the bucket join (see bitext_margin_pairs)
    sb = src.withColumn(
        "bucket", F.expr(signlsh_bucket_expr("src_emb", nbits))
    ).withColumn("src_n", F.expr(f"greatest({norm_sql('src_emb')}, 1e-12)"))
    tb = tgt.withColumn(
        "bucket", F.expr(signlsh_bucket_expr("tgt_emb", nbits))
    ).withColumn("tgt_n", F.expr(f"greatest({norm_sql('tgt_emb')}, 1e-12)"))
    pairs = sb.join(tb, "bucket").select(
        "src_id",
        "tgt_id",
        (
            F.expr(dot_sql("src_emb", "tgt_emb"))
            / (F.col("src_n") * F.col("tgt_n"))
        ).alias("cos"),
    )
    return _margin_mine(pairs, k, threshold)
