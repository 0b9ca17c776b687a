"""ANN / quantization registry queries (operators.ann + plans.strategy).

Each approximate path is oracle-checked for *determinism* (the oracle
replicates the same bucketing), and recall-checked against the exact path
in tests/test_ann_recall.py — approximation is a physical-plan property,
never silently substituted where exact results are expected (SURVEY §7
risk 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.textconst import dcos as _dcos
from .operators import ann
from .plans.strategy import smart_search
from .session import local_frame
from .sources.catalog import load_table
from .streaming._tmpdirs import tracked_mkdtemp

# duck_kmeans_cents_cte is defined ABOVE the registry-root import:
# workload_dedup's SemDeDup oracle calls it at registration time, which
# runs mid-way through this module's import when workload_ann is the
# user's FIRST import (root tail -> workload_dedup -> here, partially
# initialized).  Everything above the root import is already bound by
# then (tests/test_imports.py pins every first-import order).


def duck_kmeans_cents_cte(n_cells: int = 8, iters: int = 2) -> tuple[str, str]:
    """The deterministic Lloyd's k-means BUILD as a DuckDB CTE fragment —
    shared by the kmeans-IVF oracle below and the SemDeDup oracle
    (workload_dedup.py): seeded init (first ``n_cells`` vectors by id,
    exactly ann.kmeans_centroids), then ``iters`` rounds of assign (cosine
    argmax, cell-id tiebreak) → DECIMAL-exact per-cell means.  Expects an
    upstream ``nv(vec_id, emb)`` CTE; returns (fragment, final_cents_name)
    where the fragment is comma-terminated CTE definitions."""
    cte = [
        f"cents0 AS (SELECT CAST(vec_id AS INT) AS cell, emb AS centroid FROM nv WHERE vec_id < {n_cells}),",
    ]
    prev = "cents0"
    for it in range(1, iters + 1):
        cte.append(f"""asg{it} AS (
  SELECT vec_id, emb, cell FROM (
    SELECT nv.vec_id, nv.emb, c.cell,
           row_number() OVER (PARTITION BY nv.vec_id
                              ORDER BY {_dcos('nv.emb', 'c.centroid')} DESC, c.cell) AS rn
    FROM nv CROSS JOIN {prev} c
  ) WHERE rn = 1
),
dims{it} AS (
  SELECT cell, i, CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12)) AS v
  FROM (SELECT cell, unnest(emb) AS v, generate_subscripts(emb, 1) AS i FROM asg{it})
),
cents{it} AS (
  SELECT cell, list(m ORDER BY i) AS centroid
  FROM (SELECT cell, i, CAST(sum(v) AS DOUBLE) / count(*) AS m
        FROM dims{it} GROUP BY cell, i)
  GROUP BY cell
),""")
        prev = f"cents{it}"
    return "\n".join(cte), prev


from .workload import (  # noqa: E402
    N_QUERIES,
    PREPARE,
    _fresh_store,
    _probes,
    register,
)


_DUCK_Q = f"SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}"


def _duck_ivf_sql(k: int = 5, nprobe: int = 2) -> str:
    return f"""
WITH q AS ({_DUCK_Q}),
dims AS (
  SELECT label, i, CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12)) AS v
  FROM (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        FROM embeddings)
),
dimmeans AS (
  SELECT label, i, CAST(sum(v) AS DOUBLE) / count(*) AS m
  FROM dims GROUP BY label, i
),
cents AS (SELECT label, list(m ORDER BY i) AS centroid FROM dimmeans GROUP BY label),
cellscore AS (
  SELECT q.q_id, q.q_emb, c.label, {_dcos('q.q_emb', 'c.centroid')} AS cscore
  FROM q CROSS JOIN cents c
),
cells AS (
  SELECT q_id, q_emb, label FROM (
    SELECT q_id, q_emb, label,
           row_number() OVER (PARTITION BY q_id ORDER BY cscore DESC, label) AS crank
    FROM cellscore
  ) WHERE crank <= {nprobe}
),
scored AS (
  SELECT cells.q_id, e.vec_id, {_dcos('e.embedding', 'cells.q_emb')} AS score
  FROM embeddings e JOIN cells ON e.label = cells.label
),
ranked AS (
  SELECT q_id, vec_id, score,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, vec_id, CAST(rank AS INT) AS rank, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@register("ann_ivf_topk", _duck_ivf_sql())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF: per-label DECIMAL-exact centroids as the coarse codebook,
    probe top-2 cells, exact rescore inside the cells."""
    corpus = load_table(spark, sf_dir, "embeddings")
    return ann.ivf_topk(corpus, _probes(spark, sf_dir), k=5, nprobe=2)


_cell_layout_cache: dict[str, str] = {}


def _cell_partitioned_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF write path at scale: corpus laid out partitioned by cell id
    (here the label coarse code) so a probe's cell list prunes whole
    partition directories at scan time — staged once per process."""
    if sf_dir not in _cell_layout_cache:
        out = tracked_mkdtemp("ivf_cells_")
        load_table(spark, sf_dir, "embeddings").write.mode("overwrite").partitionBy(
            "label"
        ).parquet(out)
        _cell_layout_cache[sf_dir] = out
    return spark.read.parquet(_cell_layout_cache[sf_dir])


def _prepare_cell_layout(spark: SparkSession, sf_dir: str) -> None:
    _cell_partitioned_corpus(spark, sf_dir)


PREPARE.append(_prepare_cell_layout)


@register("ann_ivf_pruned_topk", _duck_ivf_sql())
def ann_ivf_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_ivf_topk over the write-time cell-partitioned layout: the
    probe-cells broadcast join triggers dynamic partition pruning, so the
    scan touches only the probed cells' directories (PartitionFilters /
    dynamicpruning in the plan, asserted in tests/test_plans.py) — the
    batch analogue of HNSW visiting a sublinear candidate set.  Same
    results as the logical IVF query, same oracle."""
    corpus = _cell_partitioned_corpus(spark, sf_dir)
    return ann.ivf_topk(corpus, _probes(spark, sf_dir), k=5, nprobe=2)


def _duck_signlsh_sql(k: int = 5, nbits: int = 6) -> str:
    terms = " + ".join(
        f"CASE WHEN embedding[{d + 1}] >= 0 THEN {1 << d} ELSE 0 END" for d in range(nbits)
    )
    qterms = " + ".join(
        f"CASE WHEN q_emb[{d + 1}] >= 0 THEN {1 << d} ELSE 0 END" for d in range(nbits)
    )
    return f"""
WITH q AS (SELECT q_id, q_emb, CAST({qterms} AS INT) AS bucket
           FROM ({_DUCK_Q})),
c AS (SELECT vec_id, embedding, CAST({terms} AS INT) AS bucket FROM embeddings),
scored AS (
  SELECT q.q_id, c.vec_id, {_dcos('c.embedding', 'q.q_emb')} AS score
  FROM c JOIN q ON c.bucket = q.bucket
),
ranked AS (
  SELECT q_id, vec_id, score,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, vec_id, CAST(rank AS INT) AS rank, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@register("ann_signlsh_topk", _duck_signlsh_sql())
def ann_signlsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH: 64 sign-bit buckets; candidate set = the query's bucket.
    The bucket is the partition key at scale (partition-pruned scan)."""
    corpus = load_table(spark, sf_dir, "embeddings")
    return ann.signlsh_topk(corpus, _probes(spark, sf_dir), k=5, nbits=6)


_companion_layout_cache: dict[str, str] = {}

RESCORE_PREFIX_DIMS = 16
RESCORE_BQ_DIMS = 64


def _companion_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rescore family's write path at scale: the corpus laid out with
    its companion index columns MATERIALIZED at rest — ``e8`` (INT8
    scalar quantization, array<tinyint>, 4× fewer scan bytes than the
    float32 vectors), ``e_pre16`` (the Matryoshka 16-dim prefix, 4×
    fewer here at 64 dims), ``bq64`` (sign-bit words, 1 BIGINT per 32
    dims, 32×) — staged once per process (the ``_cell_partitioned_corpus``
    discipline).  Stage 1 of each rescore query scans ONLY its companion
    column (ReadSchema excludes ``embedding`` — tests/test_plans.py),
    which is the scan-byte win the family's docstrings price; the store's
    ``VectorStore._write_segment`` writes the same columns on every
    ingest/rewrite so collection data has them from birth."""
    if sf_dir not in _companion_layout_cache:
        out = tracked_mkdtemp("rescore_companions_")
        emb = load_table(spark, sf_dir, "embeddings")
        emb.select(
            "vec_id",
            "embedding",
            "label",
            F.expr(ann.INT8_QUANT_EXPR.format(col="embedding"))
            .cast("array<tinyint>")
            .alias("e8"),
            F.expr(f"slice(embedding, 1, {RESCORE_PREFIX_DIMS})").alias(
                f"e_pre{RESCORE_PREFIX_DIMS}"
            ),
            F.expr(ann.bq_words_expr("embedding", RESCORE_BQ_DIMS)).alias(
                f"bq{RESCORE_BQ_DIMS}"
            ),
        ).write.mode("overwrite").parquet(out)
        _companion_layout_cache[sf_dir] = out
    return spark.read.parquet(_companion_layout_cache[sf_dir])


def _prepare_companion_layout(spark: SparkSession, sf_dir: str) -> None:
    _companion_corpus(spark, sf_dir)


PREPARE.append(_prepare_companion_layout)


def _duck_int8_sql(k: int = 10, oversample: int = 3) -> str:
    q8 = "[CAST(greatest(least(round(CAST(x AS DOUBLE) * 127), 127), -127) AS INT) FOR x IN {col}]"
    e8 = q8.format(col="embedding")
    p8 = q8.format(col="q_emb")
    int_dot = (
        "list_sum([CAST(e8[i] AS BIGINT) * CAST(p8[i] AS BIGINT) "
        "FOR i IN range(1, len(e8) + 1)])"
    )
    return f"""
WITH q AS (SELECT q_id, q_emb, {p8} AS p8 FROM ({_DUCK_Q})),
c AS (SELECT vec_id, embedding, {e8} AS e8 FROM embeddings),
stage1 AS (
  SELECT q.q_id, q.q_emb, c.vec_id, c.embedding, {int_dot} AS iscore
  FROM c CROSS JOIN q
),
survivors AS (
  SELECT q_id, q_emb, vec_id, embedding FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY iscore DESC, vec_id) AS irank
    FROM stage1
  ) WHERE irank <= {oversample * k}
),
rescored AS (
  SELECT q_id, vec_id, {_dcos('embedding', 'q_emb')} AS score FROM survivors
),
ranked AS (
  SELECT q_id, vec_id, score,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
  FROM rescored
)
SELECT q_id, vec_id, CAST(rank AS INT) AS rank, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@register("int8_rescore_topk", _duck_int8_sql())
def int8_rescore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 INT8 quantize + oversampled exact rescore (qdrant_client.py:129-138,
    oversampling 3.0 per settings.py:48-51).  Stage-1 integer dot products
    are exact on both engines → deterministic survivors.  Runs over the
    companion layout: stage 1 scans the materialized ``e8`` column only
    (the 4× at-rest win, pinned in tests/test_plans.py); the oracle
    re-derives the identical quantization inline."""
    corpus = _companion_corpus(spark, sf_dir)
    return ann.int8_rescore_topk(corpus, _probes(spark, sf_dir), k=10, oversample=3)


def _duck_mrl_sql(k: int = 10, prefix_dims: int = 16, oversample: int = 3) -> str:
    pre = lambda col: f"list_slice({col}, 1, {prefix_dims})"  # noqa: E731
    return f"""
WITH q AS (SELECT q_id, q_emb, {pre('q_emb')} AS p_pre FROM ({_DUCK_Q})),
c AS (SELECT vec_id, embedding, {pre('embedding')} AS e_pre FROM embeddings),
stage1 AS (
  SELECT q.q_id, q.q_emb, c.vec_id, c.embedding,
         {_dcos('c.e_pre', 'q.p_pre')} AS pscore
  FROM c CROSS JOIN q
),
survivors AS (
  SELECT q_id, q_emb, vec_id, embedding FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY pscore DESC, vec_id) AS prank
    FROM stage1
  ) WHERE prank <= {oversample * k}
),
rescored AS (
  SELECT q_id, vec_id, {_dcos('embedding', 'q_emb')} AS score FROM survivors
),
ranked AS (
  SELECT q_id, vec_id, score,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
  FROM rescored
)
SELECT q_id, vec_id, CAST(rank AS INT) AS rank, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@register("matryoshka_rescore_topk", _duck_mrl_sql())
def matryoshka_rescore_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncated-dimension coarse search + exact rescore —
    the dimension-narrowing member of the rescore family (INT8 narrows
    value width, BQ narrows to sign bits, PQ narrows to codebook ids;
    MRL keeps full-precision floats but scans only the first 16 of 128
    dims in stage 1, an 8× scan-byte cut with no codebook to train).
    Oracle replicates the identical two-stage semantics (prefix-cosine
    top-30 survivors by (pscore DESC, vec_id), exact full-dim final
    ranking); both stages are double-precision folds over the same
    float32 inputs, so survivors are deterministic across engines —
    the contract the exact-cosine rows already rely on.  Runs over the
    companion layout: stage 1 scans the materialized ``e_pre16`` column
    only (the 4× at-rest win at 64 dims, pinned in tests/test_plans.py);
    the oracle re-derives the identical prefix inline."""
    corpus = _companion_corpus(spark, sf_dir)
    return ann.matryoshka_rescore_topk(
        corpus,
        _probes(spark, sf_dir),
        k=10,
        prefix_dims=16,
        oversample=3,
    )


_DUCK_EXACT_K10 = f"""
WITH q AS ({_DUCK_Q}),
scored AS (
  SELECT q.q_id, e.vec_id, {_dcos('e.embedding', 'q.q_emb')} AS score
  FROM embeddings e CROSS JOIN q
),
ranked AS (
  SELECT q_id, vec_id, score,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, vec_id, CAST(rank AS INT) AS rank, round(score, 6) AS score
FROM ranked WHERE rank <= 10
"""


def _duck_centroid_sql() -> str:
    return """
WITH dims AS (
  SELECT label, i, CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12)) AS v
  FROM (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        FROM embeddings)
),
dimmeans AS (
  SELECT label, i, CAST(sum(v) AS DOUBLE) / count(*) AS m
  FROM dims GROUP BY label, i
)
SELECT CAST(label AS INT) AS label, round(m, 6) AS dim_mean, CAST(i AS INT) AS dim
FROM dimmeans
"""


@register("label_centroids", _duck_centroid_sql())
def label_centroids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped vector aggregation (the IVF codebook build as a query):
    per-label mean embedding, DECIMAL-accumulated so the centroid is
    identical under any partitioning; emitted as (label, dim, dim_mean)
    rows for engine-neutral comparison."""
    from pyspark.sql import functions as F

    corpus = load_table(spark, sf_dir, "embeddings")
    cents = ann.label_centroids(corpus)
    return cents.select(
        F.col("label").cast("int").alias("label"),
        F.posexplode("centroid").alias("dim0", "m"),
    ).select(
        "label",
        (F.col("dim0") + 1).cast("int").alias("dim"),
        F.round("m", 6).alias("dim_mean"),
    )


# Trained codebooks are INDEX STATE, not query state: training is the
# background build (the reference's HNSW indexing happens off the request
# path), so serving queries look the codebook up.  Pinned driver-side as
# plain rows (k×D doubles) and rebuilt into a literal DataFrame per call —
# session-independent, trained at most once per (process, sf_dir).
_kmeans_codebook_cache: dict[tuple[str, int], list] = {}


def _kmeans_cents(spark: SparkSession, sf_dir: str, *, k: int = 8) -> DataFrame:
    if (sf_dir, k) not in _kmeans_codebook_cache:
        corpus = load_table(spark, sf_dir, "embeddings")
        _kmeans_codebook_cache[(sf_dir, k)] = ann.kmeans_centroids(corpus, k=k).collect()
    return local_frame(
        spark, _kmeans_codebook_cache[(sf_dir, k)], "cell int, centroid array<double>"
    )


_ivfpq_cache: dict[str, tuple] = {}


def _ivfpq_index(spark: SparkSession, sf_dir: str):
    """IVFPQ index state (coarse centroids + init codebook + encoded codes
    with their cell id), built once per corpus — the serving query consumes
    it like the reference consumes its background-built HNSW.  Uses the
    SQL-expressible init codebook (iters=0) so the staged index keeps the
    registered query's full-oracle status."""
    from .operators.pq import pq_codebooks, pq_encode

    if sf_dir not in _ivfpq_cache:
        corpus = load_table(spark, sf_dir, "embeddings")
        coarse = (
            ann.label_centroids(corpus)
            .select(F.col("label").cast("int").alias("cell"), "centroid")
            .collect()
        )
        cents0 = pq_codebooks(corpus, m=8, ksub=16, dim=64, iters=0).collect()
        cents0_df = local_frame(
            spark, cents0, "sub int, code int, centroid array<double>"
        )
        out = tracked_mkdtemp("ivfpq_codes_")
        pq_encode(corpus, cents0_df, m=8, dim=64).join(
            corpus.select("vec_id", F.col("label").alias("cell")), "vec_id"
        ).write.mode("overwrite").parquet(out)
        _ivfpq_cache[sf_dir] = (coarse, cents0, out)
    coarse, cents0, out = _ivfpq_cache[sf_dir]
    return (
        local_frame(spark, coarse, "cell int, centroid array<double>"),
        local_frame(spark, cents0, "sub int, code int, centroid array<double>"),
        spark.read.parquet(out),
    )


def _prepare_codebooks(spark: SparkSession, sf_dir: str) -> None:
    _kmeans_cents(spark, sf_dir)
    _ivfpq_index(spark, sf_dir)


PREPARE.append(_prepare_codebooks)


def _duck_kmeans_ivf_sql(
    k: int = 10, n_cells: int = 8, nprobe: int = 3, iters: int = 2
) -> str:
    """The ENTIRE deterministic Lloyd's build unrolled into SQL: the
    shared build fragment (duck_kmeans_cents_cte), then the serve-time
    assignment + probe + exact rescore of ann.kmeans_ivf_topk.  Every
    ranking boundary (argmax assignment, probe-cell top-nprobe, final
    top-k) is bit-parity with the Spark plan, so the trained-index query
    carries a full hash oracle — the fixed iteration count is what makes
    the 'iterative' build a finite CTE chain."""
    cents_cte, prev = duck_kmeans_cents_cte(n_cells, iters)
    cte = [
        f"WITH q AS ({_DUCK_Q}),",
        "nv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),",
        cents_cte,
    ]
    cte.append(f"""served AS (
  SELECT vec_id, emb, cell FROM (
    SELECT nv.vec_id, nv.emb, c.cell,
           row_number() OVER (PARTITION BY nv.vec_id
                              ORDER BY {_dcos('nv.emb', 'c.centroid')} DESC, c.cell) AS rn
    FROM nv CROSS JOIN {prev} c
  ) WHERE rn = 1
),
cells AS (
  SELECT q_id, q_emb, cell FROM (
    SELECT q.q_id, q.q_emb, c.cell,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {_dcos('q.q_emb', 'c.centroid')} DESC, c.cell) AS crank
    FROM q CROSS JOIN {prev} c
  ) WHERE crank <= {nprobe}
),
scored AS (
  SELECT cells.q_id, s.vec_id, {_dcos('s.emb', 'cells.q_emb')} AS score
  FROM served s JOIN cells ON s.cell = cells.cell
),
ranked AS (
  SELECT q_id, vec_id, score,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, vec_id, CAST(rank AS INT) AS rank, round(score, 6) AS score
FROM ranked WHERE rank <= {k}""")
    return "\n".join(cte)


@register("ann_kmeans_ivf_topk", _duck_kmeans_ivf_sql())
def ann_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over a REAL k-means codebook built as a Spark batch job
    (deterministic Lloyd's, operators.ann.kmeans_centroids) — recall vs the
    exact engine is measured in tests/test_ann_recall.py.  The build is
    seeded-deterministic with a FIXED iteration count, so the oracle unrolls
    the same two Lloyd rounds as CTEs (_duck_kmeans_ivf_sql) and the whole
    train→assign→probe→rescore pipeline is hash-checked."""
    corpus = load_table(spark, sf_dir, "embeddings")
    return ann.kmeans_ivf_topk(
        corpus, _probes(spark, sf_dir), k=10, n_cells=8, nprobe=3,
        cents=_kmeans_cents(spark, sf_dir),
    )


# Table row counts are CBO-style catalog statistics: computed once per
# (process, corpus), consumed by physical planning (gemm task sizing).
_corpus_rows_cache: dict[str, int] = {}


def _corpus_rows(spark: SparkSession, sf_dir: str) -> int:
    if sf_dir not in _corpus_rows_cache:
        _corpus_rows_cache[sf_dir] = load_table(spark, sf_dir, "embeddings").count()
    return _corpus_rows_cache[sf_dir]


@register("knn_topk_gemm", _DUCK_EXACT_K10)
def knn_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 exact top-k on the GEMM physical plan (operators.pairscan.gemm_knn):
    blocked NumPy tile multiply + per-block partial top-k, global merge of
    B·k candidates — same oracle as the Catalyst plan because the fold
    arithmetic is bit-identical; only the physical strategy differs."""
    from .operators.pairscan import gemm_knn

    corpus = load_table(spark, sf_dir, "embeddings")
    return gemm_knn(
        corpus, _probes(spark, sf_dir), k=10,
        corpus_rows=_corpus_rows(spark, sf_dir),
    )


@register("sql_surface_knn", _DUCK_EXACT_K10)
def sql_surface_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §4: SQL/DataFrame front-end parity — the flagship Q1 search
    expressed as ONE ANSI SQL statement over the registered catalog views
    (the engine's second query surface; same Catalyst plan, same oracle as
    knn_topk).  Cosine is the same codegen'd fold expression, inlined into
    the SQL text."""
    from .functions.vector import cosine_sql
    from .sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.q_id, e.vec_id, {cosine_sql('e.embedding', 'q.q_emb')} AS score
  FROM embeddings e CROSS JOIN q
),
ranked AS (
  SELECT q_id, vec_id, score,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, vec_id, CAST(rank AS INT) AS rank, round(score, 6) AS score
FROM ranked WHERE rank <= 10
""")


def _duck_batch_sql(n_probes: int = 1000, k: int = 5) -> str:
    return f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {n_probes}
),
scored AS (
  SELECT q.q_id, e.vec_id, {_dcos('e.embedding', 'q.q_emb')} AS score
  FROM embeddings e CROSS JOIN q
),
ranked AS (
  SELECT q_id, vec_id, score,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, vec_id, CAST(rank AS INT) AS rank, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@register("knn_batch_throughput", _duck_batch_sql())
def knn_batch_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-oriented search throughput: 1,000 probes answered in ONE GEMM
    job — the batch engine's counter to the reference's per-request loop
    (its >1000 searches/s target, README.md:8, is reached by amortizing the
    corpus scan across the whole probe batch; per-probe wall time here is
    the bench timing / 1000)."""
    from .operators.pairscan import gemm_knn

    corpus = load_table(spark, sf_dir, "embeddings")
    probes = corpus.filter(F.col("vec_id") < 1000).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return gemm_knn(corpus, probes, k=5, corpus_rows=_corpus_rows(spark, sf_dir))


@register("adaptive_search", _DUCK_EXACT_K10)
def adaptive_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: strategy policy (full_scan_threshold=20k, settings.py:55).  The
    registered query pins the exact strategy so the oracle contract holds at
    EVERY sf — adaptivity itself (routing to sign-LSH at a 25k corpus, with
    measured recall) is exercised in tests/test_invariants.py and
    tests/test_ann_recall.py, where approximate answers are expected."""
    corpus = load_table(spark, sf_dir, "embeddings")
    return smart_search(corpus, _probes(spark, sf_dir), k=10, force="exact")


def _duck_pq_adc_sql(
    k: int = 10, m: int = 8, ksub: int = 16, dsub: int = 8, oversample: int = 4
) -> str:
    """Pure-PQ ADC search restated in DuckDB over the same SQL-expressible
    index state as the ivfpq oracle (init-from-first-ksub codebook,
    DECIMAL-exact code assignment).  The ADC stage replicates the Spark
    plan's codegen'd fixed-order LUT fold bit-for-bit:
    list_prepend(0.0) + list_reduce over p's in sub order ==
    aggregate(sequence(0, m-1), 0.0, acc + lut[j][code_j])."""
    norm = (
        "list_transform(CAST({c} AS DOUBLE[]), x -> x / greatest(sqrt("
        "list_dot_product(CAST({c} AS DOUBLE[]), CAST({c} AS DOUBLE[]))), 1e-12))"
    )
    return f"""
WITH q AS ({_DUCK_Q}),
nc AS (SELECT vec_id, {norm.format(c='embedding')} AS nvec FROM embeddings),
cb AS (
  SELECT gs.sub, CAST(nc.vec_id AS INT) AS code,
         nc.nvec[(gs.sub * {dsub} + 1):((gs.sub + 1) * {dsub})] AS centroid
  FROM nc, generate_series(0, {m - 1}) AS gs(sub)
  WHERE nc.vec_id < {ksub}
),
cs AS (
  SELECT nc.vec_id, gs.sub,
         nc.nvec[(gs.sub * {dsub} + 1):((gs.sub + 1) * {dsub})] AS subvec
  FROM nc, generate_series(0, {m - 1}) AS gs(sub)
),
terms AS (
  SELECT vec_id, sub, code, CAST(round((a - b) * (a - b), 9) AS DECIMAL(19,9)) AS t
  FROM (SELECT cs.vec_id, cs.sub, cb.code, unnest(cs.subvec) AS a, unnest(cb.centroid) AS b
        FROM cs JOIN cb ON cs.sub = cb.sub)
),
dist AS (
  SELECT vec_id, sub, code, CAST(sum(t) AS DOUBLE) AS d
  FROM terms GROUP BY vec_id, sub, code
),
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
    FROM dist
  ) WHERE rn = 1
),
qn AS (SELECT q_id, {norm.format(c='q_emb')} AS qnv FROM q),
qs AS (
  SELECT qn.q_id, gs.sub, qn.qnv[(gs.sub * {dsub} + 1):((gs.sub + 1) * {dsub})] AS subvec
  FROM qn, generate_series(0, {m - 1}) AS gs(sub)
),
lut AS (
  SELECT qs.q_id, qs.sub, cb.code, list_dot_product(qs.subvec, cb.centroid) AS p
  FROM qs JOIN cb ON qs.sub = cb.sub
),
adc AS (
  SELECT l.q_id, c.vec_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(l.p ORDER BY l.sub)),
                     (a, b) -> a + b) AS adc
  FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
  GROUP BY l.q_id, c.vec_id
),
surv AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, vec_id) AS ar
    FROM adc
  ) WHERE ar <= {oversample * k}
),
resc AS (
  SELECT s.q_id, s.vec_id, {_dcos('e.embedding', 'q.q_emb')} AS score
  FROM surv s JOIN embeddings e ON e.vec_id = s.vec_id JOIN q ON q.q_id = s.q_id
),
ranked AS (
  SELECT q_id, vec_id, score,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
  FROM resc
)
SELECT q_id, vec_id, CAST(rank AS INT) AS rank, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@register("pq_adc_topk", _duck_pq_adc_sql())
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization + asymmetric-distance search (operators.pq):
    8 subspaces × 16 centroids compress dim-64 vectors 32×; the candidate
    scan reads only the m-byte code column against a broadcast per-probe
    nested LUT (a fixed-order codegen'd fold), then exact-rescores the 4×k
    ADC survivors.  This registration pins the SQL-expressible index state
    (init-from-first-ksub codebook, shared with ann_ivfpq_topk's staged
    index) so assignment, LUTs, the ADC fold, and the rescore are ALL
    hash-checked; the Lloyd-trained codebook stays in
    tests/test_ann_recall.py."""
    from .operators.pq import pq_adc_topk as _pq

    corpus = load_table(spark, sf_dir, "embeddings")
    _, cents0, codes = _ivfpq_index(spark, sf_dir)
    return _pq(
        corpus,
        _probes(spark, sf_dir),
        k=10,
        cents=cents0,
        codes=codes,
    )


def _duck_ivfpq_sql(
    k: int = 10, nprobe: int = 2, m: int = 8, ksub: int = 16, dsub: int = 8,
    oversample: int = 4,
) -> str:
    """The full IVF+PQ pipeline restated in DuckDB: per-label coarse
    centroids, init-from-first-ksub codebooks, DECIMAL-exact code
    assignment and ADC sums — bit-parity with the Spark plan at every
    ranking boundary."""
    norm = (
        "list_transform(CAST({c} AS DOUBLE[]), x -> x / greatest(sqrt("
        "list_dot_product(CAST({c} AS DOUBLE[]), CAST({c} AS DOUBLE[]))), 1e-12))"
    )
    return f"""
WITH q AS ({_DUCK_Q}),
dims AS (
  SELECT label, i, CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12)) AS v
  FROM (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
        FROM embeddings)
),
dimmeans AS (
  SELECT label, i, CAST(sum(v) AS DOUBLE) / count(*) AS m
  FROM dims GROUP BY label, i
),
coarse AS (SELECT label, list(m ORDER BY i) AS centroid FROM dimmeans GROUP BY label),
cellscore AS (
  SELECT q.q_id, c.label, {_dcos('q.q_emb', 'c.centroid')} AS cscore
  FROM q CROSS JOIN coarse c
),
cells AS (
  SELECT q_id, label FROM (
    SELECT q_id, label,
           row_number() OVER (PARTITION BY q_id ORDER BY cscore DESC, label) AS crank
    FROM cellscore
  ) WHERE crank <= {nprobe}
),
nc AS (SELECT vec_id, label, {norm.format(c='embedding')} AS nvec FROM embeddings),
cb AS (
  SELECT gs.sub, CAST(nc.vec_id AS INT) AS code,
         nc.nvec[(gs.sub * {dsub} + 1):((gs.sub + 1) * {dsub})] AS centroid
  FROM nc, generate_series(0, {m - 1}) AS gs(sub)
  WHERE nc.vec_id < {ksub}
),
cs AS (
  SELECT nc.vec_id, gs.sub,
         nc.nvec[(gs.sub * {dsub} + 1):((gs.sub + 1) * {dsub})] AS subvec
  FROM nc, generate_series(0, {m - 1}) AS gs(sub)
),
terms AS (
  SELECT vec_id, sub, code, CAST(round((a - b) * (a - b), 9) AS DECIMAL(19,9)) AS t
  FROM (SELECT cs.vec_id, cs.sub, cb.code, unnest(cs.subvec) AS a, unnest(cb.centroid) AS b
        FROM cs JOIN cb ON cs.sub = cb.sub)
),
dist AS (
  SELECT vec_id, sub, code, CAST(sum(t) AS DOUBLE) AS d
  FROM terms GROUP BY vec_id, sub, code
),
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
    FROM dist
  ) WHERE rn = 1
),
qn AS (SELECT q_id, {norm.format(c='q_emb')} AS qnv FROM q),
qs AS (
  SELECT qn.q_id, gs.sub, qn.qnv[(gs.sub * {dsub} + 1):((gs.sub + 1) * {dsub})] AS subvec
  FROM qn, generate_series(0, {m - 1}) AS gs(sub)
),
lut AS (
  SELECT qs.q_id, qs.sub, cb.code, list_dot_product(qs.subvec, cb.centroid) AS p
  FROM qs JOIN cb ON qs.sub = cb.sub
),
cand AS (
  SELECT cells.q_id, c.vec_id, c.sub, c.code
  FROM codes c JOIN nc ON nc.vec_id = c.vec_id JOIN cells ON nc.label = cells.label
),
adc AS (
  SELECT cand.q_id, cand.vec_id,
         CAST(sum(CAST(round(l.p, 9) AS DECIMAL(19,9))) AS DOUBLE) AS adc
  FROM cand JOIN lut l ON l.q_id = cand.q_id AND l.sub = cand.sub AND l.code = cand.code
  GROUP BY cand.q_id, cand.vec_id
),
surv AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, vec_id) AS ar
    FROM adc
  ) WHERE ar <= {oversample * k}
),
resc AS (
  SELECT s.q_id, s.vec_id, {_dcos('e.embedding', 'q.q_emb')} AS score
  FROM surv s JOIN embeddings e ON e.vec_id = s.vec_id JOIN q ON q.q_id = s.q_id
),
ranked AS (
  SELECT q_id, vec_id, score,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
  FROM resc
)
SELECT q_id, vec_id, CAST(rank AS INT) AS rank, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@register("ann_ivfpq_topk", _duck_ivfpq_sql())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed search (operators.pq.ivfpq_topk): coarse cells prune
    the scan, ADC over the 8-byte code column scores candidates, exact
    cosine rescores the 4×k survivors.  This registration pins the
    SQL-expressible index state (label cells, init codebook) so the ENTIRE
    pipeline — assignment, LUTs, ADC, rescore — is oracle-checked;
    the Lloyd-trained variants stay rows-only + recall-tested."""
    from .operators.pq import ivfpq_topk

    corpus = load_table(spark, sf_dir, "embeddings")
    coarse, cents0, codes = _ivfpq_index(spark, sf_dir)
    return ivfpq_topk(
        corpus, _probes(spark, sf_dir), k=10, nprobe=2,
        coarse=coarse, cents=cents0, codes=codes,
    )


def _duck_bq_sql(k: int = 10, oversample: int = 4, dims: int = 64) -> str:
    # sign-bit pack into 32-bit BIGINT words — same layout as
    # operators.ann.bq_words_expr (DuckDB lambda index is 1-based, Spark's
    # 0-based: (i-1) vs i produce the identical bit positions).
    def words(col: str) -> str:
        ws = []
        for off in range(0, dims, 32):
            ws.append(
                f"list_reduce(list_transform(({col})[{off + 1}:{off + 32}], "
                f"(x, i) -> CASE WHEN CAST(x AS DOUBLE) > 0.0 "
                f"THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END), "
                f"(a, b) -> a | b)"
            )
        return f"[{', '.join(ws)}]"

    n_words = dims // 32
    ham = " + ".join(
        f"bit_count(xor(cw[{i + 1}], qw[{i + 1}]))" for i in range(n_words)
    )
    return f"""
WITH q AS (SELECT q_id, q_emb, {words('q_emb')} AS qw FROM ({_DUCK_Q})),
c AS (SELECT vec_id, embedding, {words('embedding')} AS cw FROM embeddings),
stage1 AS (
  SELECT q.q_id, q.q_emb, c.vec_id, c.embedding, {ham} AS hamming
  FROM c CROSS JOIN q
),
survivors AS (
  SELECT q_id, q_emb, vec_id, embedding FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY hamming, vec_id) AS hrank
    FROM stage1
  ) WHERE hrank <= {oversample * k}
),
rescored AS (
  SELECT q_id, vec_id, {_dcos('embedding', 'q_emb')} AS score FROM survivors
),
ranked AS (
  SELECT q_id, vec_id, score,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rank
  FROM rescored
)
SELECT q_id, vec_id, CAST(rank AS INT) AS rank, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@register("bq_hamming_rescore", _duck_bq_sql())
def bq_hamming_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 binary quantization (Qdrant ``BinaryQuantization`` — the 1-bit
    tier below the reference's INT8, qdrant_client.py:129-138 pattern):
    stage 1 ranks by Hamming distance between sign-bit codes (popcount of
    XOR over packed BIGINT words — integer-exact on both engines), stage 2
    rescores the 4×k survivors with exact cosine.  Runs over the
    companion layout: stage 1 scans the MATERIALIZED ``bq64`` word column
    only — 1/32 the float bytes, ReadSchema excludes ``embedding``
    (tests/test_plans.py) — so the 100 TB prescreen scans codes, not
    vectors."""
    corpus = _companion_corpus(spark, sf_dir)
    return ann.bq_hamming_topk(corpus, _probes(spark, sf_dir), k=10, oversample=4)


BITEXT_SRC_LABELS = 5   # labels 0-4 -> "source language" pool
BITEXT_K = 4
BITEXT_THRESHOLD = 1.0


def _duck_store_quantized_sql(k: int = 10, oversample: int = 3) -> str:
    """The INT8 rescore oracle over the STORE's contents: point_id is the
    stringified vec_id, vectors are the double-cast corpus (the fixture
    store ingests without normalization), quantization re-derived inline
    — survivor sets and final ranks tiebreak on the VARCHAR point_id,
    matching Spark's string ordering."""
    q8 = "[CAST(greatest(least(round(CAST(x AS DOUBLE) * 127), 127), -127) AS INT) FOR x IN {col}]"
    int_dot = (
        "list_sum([CAST(e8[i] AS BIGINT) * CAST(p8[i] AS BIGINT) "
        "FOR i IN range(1, len(e8) + 1)])"
    )
    return f"""
WITH q AS (SELECT q_id, q_emb, {q8.format(col='q_emb')} AS p8 FROM ({_DUCK_Q})),
c AS (SELECT CAST(vec_id AS VARCHAR) AS point_id,
             [CAST(x AS DOUBLE) FOR x IN embedding] AS embedding,
             {q8.format(col='embedding')} AS e8
      FROM embeddings),
stage1 AS (
  SELECT q.q_id, q.q_emb, c.point_id, c.embedding, {int_dot} AS iscore
  FROM c CROSS JOIN q
),
survivors AS (
  SELECT q_id, q_emb, point_id, embedding FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY iscore DESC, point_id) AS irank
    FROM stage1
  ) WHERE irank <= {oversample * k}
),
rescored AS (
  SELECT q_id, point_id, {_dcos('embedding', 'q_emb')} AS score FROM survivors
),
ranked AS (
  SELECT q_id, point_id, score,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, point_id) AS rank
  FROM rescored
)
SELECT q_id, point_id, CAST(rank AS INT) AS rank, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""


@register("store_quantized_search", _duck_store_quantized_sql())
def store_quantized_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qdrant's configured quantized search served END-TO-END from the
    collection (qdrant_client.py:129-138: INT8 scalar quantization,
    ``oversampling`` 3.0, ``rescore`` True): the store's segments carry
    the ``e8`` companion column from ingest (``_write_segment``
    materializes it on every write), stage 1 ranks by integer dot product
    scanning ONLY (point_id, e8) — the float vectors stay unread until
    the ``oversample × k`` survivors join back for the exact rescore.
    This is the serving-path proof that the at-rest companion is real:
    the same two-scan plan the staged-layout rescore rows pin, but over
    collection data written by the store itself."""
    store = _fresh_store(spark, sf_dir, "qsearch")
    return store.search(
        _probes(spark, sf_dir), k=10, quantization="int8", oversample=3
    )


def _duck_bitext_sql() -> str:
    dec = "CAST(CAST({x} AS DOUBLE) AS DECIMAL(28,12))"
    return f"""
WITH s AS (SELECT vec_id AS src_id, embedding AS src_emb FROM embeddings
           WHERE label < {BITEXT_SRC_LABELS}),
t AS (SELECT vec_id AS tgt_id, embedding AS tgt_emb FROM embeddings
      WHERE label >= {BITEXT_SRC_LABELS}),
pairs AS (
  SELECT s.src_id, t.tgt_id, {_dcos('s.src_emb', 't.tgt_emb')} AS cos
  FROM s CROSS JOIN t
),
ranked AS (
  SELECT src_id, tgt_id, cos,
         row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS rx,
         row_number() OVER (PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS ry
  FROM pairs
),
ax AS (
  SELECT src_id, CAST(sum({dec.format(x='cos')}) AS DOUBLE) / count(*) AS a_src
  FROM ranked WHERE rx <= {BITEXT_K} GROUP BY src_id
),
ay AS (
  SELECT tgt_id, CAST(sum({dec.format(x='cos')}) AS DOUBLE) / count(*) AS a_tgt
  FROM ranked WHERE ry <= {BITEXT_K} GROUP BY tgt_id
),
margined AS (
  SELECT r.src_id, r.tgt_id,
         r.cos / ((ax.a_src + ay.a_tgt) / 2) AS margin
  FROM ranked r JOIN ax USING (src_id) JOIN ay USING (tgt_id)
),
best AS (
  SELECT src_id, tgt_id, margin,
         row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS b
  FROM margined
)
SELECT src_id, tgt_id, round(margin, 6) AS margin
FROM best WHERE b = 1 AND margin > {BITEXT_THRESHOLD}
"""


@register("bitext_margin_pairs", _duck_bitext_sql())
def bitext_margin_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (the CCMatrix/LASER operator): split the
    embedding pool into two "languages" by label, mine (src, tgt) pairs
    whose cosine clears BOTH endpoints' average k-NN neighborhood — the
    normalization that stops hub vectors from over-pairing, which raw
    cosine thresholding cannot.  The oracle replicates the exact margin
    arithmetic (DECIMAL-summed neighborhood averages make the margin
    independent of partitioning); the operator's candidate stage is the
    broadcast cross-score at fixture scale and swaps for any ANN family
    member at 100 TB — the margin math consumes top-k candidate lists,
    never the cross product."""
    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("label") < BITEXT_SRC_LABELS).select(
        F.col("vec_id").alias("src_id"), F.col("embedding").alias("src_emb")
    )
    tgt = emb.filter(F.col("label") >= BITEXT_SRC_LABELS).select(
        F.col("vec_id").alias("tgt_id"), F.col("embedding").alias("tgt_emb")
    )
    return ann.bitext_margin_pairs(
        src, tgt, k=BITEXT_K, threshold=BITEXT_THRESHOLD
    )


BITEXT_LSH_NBITS = 6


def _duck_bitext_lsh_sql() -> str:
    dec = "CAST(CAST({x} AS DOUBLE) AS DECIMAL(28,12))"

    def bucket(col: str) -> str:
        terms = " + ".join(
            f"CASE WHEN {col}[{d + 1}] >= 0 THEN {1 << d} ELSE 0 END"
            for d in range(BITEXT_LSH_NBITS)
        )
        return f"CAST({terms} AS INT)"

    return f"""
WITH s AS (SELECT vec_id AS src_id, embedding AS src_emb,
                  {bucket('embedding')} AS bucket
           FROM embeddings WHERE label < {BITEXT_SRC_LABELS}),
t AS (SELECT vec_id AS tgt_id, embedding AS tgt_emb,
             {bucket('embedding')} AS bucket
      FROM embeddings WHERE label >= {BITEXT_SRC_LABELS}),
pairs AS (
  SELECT s.src_id, t.tgt_id, {_dcos('s.src_emb', 't.tgt_emb')} AS cos
  FROM s JOIN t USING (bucket)
),
ranked AS (
  SELECT src_id, tgt_id, cos,
         row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS rx,
         row_number() OVER (PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS ry
  FROM pairs
),
ax AS (
  SELECT src_id, CAST(sum({dec.format(x='cos')}) AS DOUBLE) / count(*) AS a_src
  FROM ranked WHERE rx <= {BITEXT_K} GROUP BY src_id
),
ay AS (
  SELECT tgt_id, CAST(sum({dec.format(x='cos')}) AS DOUBLE) / count(*) AS a_tgt
  FROM ranked WHERE ry <= {BITEXT_K} GROUP BY tgt_id
),
margined AS (
  SELECT r.src_id, r.tgt_id,
         r.cos / ((ax.a_src + ay.a_tgt) / 2) AS margin
  FROM ranked r JOIN ax USING (src_id) JOIN ay USING (tgt_id)
),
best AS (
  SELECT src_id, tgt_id, margin,
         row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS b
  FROM margined
)
SELECT src_id, tgt_id, round(margin, 6) AS margin
FROM best WHERE b = 1 AND margin > {BITEXT_THRESHOLD}
"""


@register("bitext_margin_pairs_lsh", _duck_bitext_lsh_sql())
def bitext_margin_pairs_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`bitext_margin_pairs` with its 100 TB candidate stage made real
    (the exact row's docstring promises the swap; this row tests it):
    candidate edges are the pairs sharing a sign-LSH bucket — an
    equi-JOIN on the bucket id, never a cross product — and the margin
    normalization runs over each endpoint's top-min(k, degree) candidate
    cosines.  The oracle replicates the identical bucketing (SURVEY §7
    risk 4: approximation is a deterministic plan property, never a
    silent substitution); the recall cost vs the exact variant is
    measured in tests/test_ann_recall.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("label") < BITEXT_SRC_LABELS).select(
        F.col("vec_id").alias("src_id"), F.col("embedding").alias("src_emb")
    )
    tgt = emb.filter(F.col("label") >= BITEXT_SRC_LABELS).select(
        F.col("vec_id").alias("tgt_id"), F.col("embedding").alias("tgt_emb")
    )
    return ann.bitext_margin_pairs_lsh(
        src, tgt, k=BITEXT_K, threshold=BITEXT_THRESHOLD, nbits=BITEXT_LSH_NBITS
    )
