"""Product quantization (PQ) with asymmetric-distance (ADC) search.

Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor Search"
(TPAMI 2011) — the compression scheme behind FAISS's IVFPQ and Qdrant's
product quantization option; the reference exposes the scalar little
sibling (INT8, src/core/qdrant_client.py:129-138, see
`operators.ann.int8_rescore_topk`).  PQ is the 100 TB justification in one
number: dim-64 float32 vectors are 256 B/row, 8-bit PQ codes are 8 B/row —
a 32× smaller scan, so the candidate-generation pass reads ~3 TB instead
of 100 TB, with exact rescoring only for survivors.

Batch-Spark shape (everything declarative, no Python in the hot path):

- ``pq_codebooks``: per-subspace Lloyd's k-means (deterministic: init from
  the first ``ksub`` vectors by id, DECIMAL-exact means), codebook pinned
  driver-side between iterations — model state is m·ksub·(D/m) doubles.
- ``pq_encode``: per-vector code array via a broadcast nearest-centroid
  argmin per subspace (``min_by`` hash agg, no window).
- ``pq_adc_topk``: each probe's lookup table (LUT) of subspace-centroid
  dot products is built as a nested array and broadcast; the scan-side
  expression is ``Σ_j lut[j][code_j]`` — a codegen'd ``aggregate`` over
  the m-byte code column, never touching the float vectors.  Top
  ``oversample × k`` by ADC score, then the rescore family's shared exact
  cosine stage 2 (``ann._rescore_survivors``, the reference's own
  oversample-rescore discipline).

Approximation contract: vectors are L2-normalized before encoding, so the
ADC score estimates cosine; recall-vs-exact is asserted in
tests/test_ann_recall.py, and the registered query is rows-only (the
driver's SQL oracle cannot express Lloyd's iterations — same status as
``ann_kmeans_ivf_topk``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine_sql, l2_normalize_sql
from ..session import local_frame
from .ann import _rescore_survivors, label_centroids

_DEC12 = "decimal(28,12)"

# Squared-L2 fold with per-term round-to-9dp DECIMAL accumulation: exact and
# order-independent, so code assignment is bit-identical on any partitioning
# AND matches a sequential oracle (the repo's additive-aggregate discipline,
# workload.py module docstring).  Index-build path — the decimal arithmetic
# cost is paid once at encode time, never at serve time.
_L2SQ_DEC = (
    "CAST(aggregate(zip_with({a}, {b}, (x, y) -> "
    "CAST(round((x - y) * (x - y), 9) AS DECIMAL(19,9))), "
    "CAST(0.0 AS DECIMAL(19,9)), (acc, v) -> CAST(acc + v AS DECIMAL(19,9))) AS DOUBLE)"
)

# squared L2 distance between two equal-length double arrays
_L2SQ = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _subvectors(df: DataFrame, vec_col: str, m: int, dim: int) -> DataFrame:
    """Explode a vector column into ``m`` rows (sub, subvec), subvec length
    dim/m.  ``slice`` is 1-based."""
    dsub = dim // m
    return df.withColumn(
        "sub", F.explode(F.sequence(F.lit(0), F.lit(m - 1)))
    ).withColumn(
        "subvec", F.expr(f"slice({vec_col}, sub * {dsub} + 1, {dsub})")
    )


def pq_codebooks(
    corpus: DataFrame,
    *,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    iters: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Train per-subspace codebooks on the L2-normalized corpus.

    Returns (sub int, code int, centroid array<double>[dim/m]).
    """
    normed = corpus.withColumn("nvec", F.expr(l2_normalize_sql("embedding")))
    subs = _subvectors(normed, "nvec", m, dim).select(id_col, "sub", "subvec")
    cents = (
        subs.filter(F.col(id_col) < ksub)
        .select(
            "sub",
            F.col(id_col).cast("int").alias("code"),
            F.col("subvec").alias("centroid"),
        )
    )
    spark = corpus.sparkSession
    for _ in range(iters):
        assigned = _assign_codes(subs, cents)
        exploded = assigned.select(
            "sub", "code", F.posexplode("subvec").alias("pos", "v")
        ).select("sub", "code", "pos", F.col("v").cast(_DEC12).alias("v"))
        dim_means = exploded.groupBy("sub", "code", "pos").agg(
            (F.sum("v").cast("double") / F.count("*")).alias("c")
        )
        cents = dim_means.groupBy("sub", "code").agg(
            F.expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").alias(
                "centroid"
            )
        )
        # pin model state driver-side between iterations (MLlib pattern;
        # lineage would otherwise re-run earlier iterations)
        cents = local_frame(
            spark, cents.collect(), "sub int, code int, centroid array<double>"
        )
    return cents


def _assign_codes(subs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per (vector, subspace) by squared L2; ``min_by``
    with a code tiebreak keeps it a map-side-combinable hash agg."""
    id_col = subs.columns[0]
    paired = subs.join(F.broadcast(cents), "sub")
    d = _L2SQ_DEC.format(a="subvec", b="centroid")
    scored = paired.withColumn("d", F.expr(d))
    return (
        scored.groupBy(id_col, "sub")
        .agg(
            F.expr("min_by(struct(code AS code, subvec AS subvec), struct(d AS d, code AS c))").alias(
                "best"
            )
        )
        .select(id_col, "sub", F.col("best.code").alias("code"), F.col("best.subvec").alias("subvec"))
    )


def pq_encode(
    corpus: DataFrame,
    cents: DataFrame,
    *,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode every vector to its code array (the persisted PQ column).

    Returns (id_col, codes array<int>[m]) — at rest this is the m-byte
    column the ADC scan reads instead of the float vectors.
    """
    normed = corpus.withColumn("nvec", F.expr(l2_normalize_sql("embedding")))
    subs = _subvectors(normed, "nvec", m, dim).select(id_col, "sub", "subvec")
    assigned = _assign_codes(subs, cents)
    return assigned.groupBy(id_col).agg(
        F.expr("transform(array_sort(collect_list(struct(sub, code))), x -> x.code)").alias(
            "codes"
        )
    )


def pq_adc_topk(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    oversample: int = 4,
    cents: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """ADC search: broadcast per-probe LUTs over the code column, exact
    cosine rescore of the ``oversample × k`` ADC survivors.

    ``cents``/``codes`` let callers supply the pre-trained codebook and the
    pre-encoded code column (both are INDEX state written at build time,
    like the reference's background HNSW indexing — serving neither
    retrains nor re-encodes).

    Returns (q_id, vec_id, rank, score) — final ranking by exact score.
    """
    if cents is None:
        cents = pq_codebooks(corpus, m=m, ksub=ksub, dim=dim)
    if codes is None:
        codes = pq_encode(corpus, cents, m=m, dim=dim)

    # per-probe LUT: lut[sub][code] = dot(q_sub, centroid) on the
    # normalized query — (probes × m × ksub) rows folded into one nested
    # array per probe, broadcast to the scan
    qn = probes.withColumn("qn", F.expr(l2_normalize_sql("q_emb")))
    qsubs = _subvectors(qn, "qn", m, dim).select("q_id", "qn", "sub", "subvec")
    dot = "aggregate(zip_with(subvec, centroid, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    lut_rows = qsubs.join(F.broadcast(cents), "sub").select(
        "q_id", "sub", "code", F.expr(dot).alias("p")
    )
    per_sub = lut_rows.groupBy("q_id", "sub").agg(
        F.expr("transform(array_sort(collect_list(struct(code, p))), x -> x.p)").alias("row")
    )
    luts = per_sub.groupBy("q_id").agg(
        F.expr("transform(array_sort(collect_list(struct(sub, row))), x -> x.row)").alias("lut")
    )

    # ADC scan: codegen'd fold over the code array; float vectors untouched
    adc = (
        "aggregate(sequence(0, {mm}), CAST(0 AS DOUBLE), "
        "(acc, j) -> acc + element_at(element_at(lut, j + 1), element_at(codes, j + 1) + 1))"
    ).format(mm=m - 1)
    stage1 = codes.crossJoin(F.broadcast(luts)).withColumn("adc", F.expr(adc))
    w1 = Window.partitionBy("q_id").orderBy(F.desc("adc"), F.col("vec_id"))
    survivors = (
        stage1.withColumn("arank", F.row_number().over(w1))
        .filter(F.col("arank") <= oversample * k)
        .select("q_id", "vec_id")
        .join(F.broadcast(probes.select("q_id", "q_emb")), "q_id")
    )
    return _rescore_survivors(corpus, survivors, k)


def ivfpq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    oversample: int = 4,
    cell_col: str = "label",
    coarse: DataFrame | None = None,
    cents: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF+PQ composed search — the FAISS IVFPQ layout (Jégou §V) and the
    batch analogue of Qdrant's HNSW-over-PQ option the reference's
    quantization config gestures at (qdrant_client.py:129-138).

    Index state (all off the query path, like the reference's background
    indexing): ``coarse`` cell centroids (default: per-label DECIMAL-exact
    means — supply ``ann.kmeans_centroids`` output in production),
    ``cents`` PQ codebooks (default: init-from-first-``ksub`` — supply
    ``pq_codebooks(..., iters>0)`` for the Lloyd-trained book; the default
    keeps the registered query fully SQL-expressible for the oracle),
    ``codes`` the encoded corpus with its cell id.

    Serve plan, in 100 TB terms:
    1. probe: query × coarse centroids (tiny, broadcast) → top-``nprobe``
       cells — at scale the cell id is the write-time partition key, so
       this prunes partition directories before any scan;
    2. ADC: the scan inside probed cells reads the m-byte code column only
       (32× narrower than the floats); LUT rows are broadcast and the
       per-candidate score is an exact DECIMAL sum (order-independent →
       deterministic under any partitioning);
    3. exact cosine rescore of the ``oversample × k`` survivors against the
       float vectors (``ann._rescore_survivors``, the family's one stage 2)
       — only oversample×k×Q rows ever touch full vectors.

    One q_id shuffle serves the ADC aggregate and the ADC ranking window
    (subset satisfaction); the exact ranking window shuffles only the
    request-sized rescored rows.  Returns (q_id, vec_id, rank, score).
    """
    if coarse is None:
        coarse = label_centroids(corpus).select(
            F.col(cell_col).alias("cell"), "centroid"
        )
    if cents is None:
        cents = pq_codebooks(corpus, m=m, ksub=ksub, dim=dim, iters=0)
    if codes is None:
        codes = pq_encode(corpus, cents, m=m, dim=dim).join(
            corpus.select("vec_id", F.col(cell_col).alias("cell")), "vec_id"
        )

    # stage 1 — probe top-nprobe cells per query
    cell_scores = probes.crossJoin(F.broadcast(coarse)).withColumn(
        "cscore", F.expr(cosine_sql("q_emb", "centroid"))
    )
    wc = Window.partitionBy("q_id").orderBy(F.desc("cscore"), F.col("cell"))
    probe_cells = (
        cell_scores.withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= nprobe)
        .select("q_id", "cell")
    )

    # stage 2 — ADC over the probed cells' codes
    qn = probes.withColumn("qn", F.expr(l2_normalize_sql("q_emb")))
    qsubs = _subvectors(qn, "qn", m, dim).select("q_id", "sub", "subvec")
    dot = (
        "aggregate(zip_with(subvec, centroid, (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    lut_rows = qsubs.join(F.broadcast(cents), "sub").select(
        "q_id", "sub", "code", F.expr(dot).alias("p")
    )
    cand = codes.join(F.broadcast(probe_cells), "cell").repartition("q_id")
    cexp = cand.select("q_id", "vec_id", F.posexplode("codes").alias("sub", "code"))
    adc = (
        cexp.join(F.broadcast(lut_rows), ["q_id", "sub", "code"])
        .groupBy("q_id", "vec_id")
        .agg(
            F.sum(F.expr("CAST(round(p, 9) AS DECIMAL(19,9))"))
            .cast("double")
            .alias("adc")
        )
    )
    w1 = Window.partitionBy("q_id").orderBy(F.desc("adc"), F.col("vec_id"))
    survivors = (
        adc.withColumn("arank", F.row_number().over(w1))
        .filter(F.col("arank") <= oversample * k)
        .select("q_id", "vec_id")
        .join(F.broadcast(probes.select("q_id", "q_emb")), "q_id")
    )

    # stage 3 — exact rescore of survivors only
    return _rescore_survivors(corpus, survivors, k)
