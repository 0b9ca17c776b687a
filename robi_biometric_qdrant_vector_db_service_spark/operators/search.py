"""Q1–Q4: the reference's query surface as Spark plans.

- Q1 filtered top-k cosine search   (src/core/qdrant_client.py:311-405)
- Q2 weighted multi-vector fusion   (src/core/advanced_indexing.py:280-348)
- Q3 verify, 1:1                    (api_spec.md:478-502 — spec-only upstream)
- Q4 detect/identify, 1:N           (api_spec.md:504-528 — spec-only upstream)

Plan shape (scale rationale)
----------------------------
The corpus side is the 100 TB side; the query side is small by construction
(a search request batch).  So every search is:

    scan(corpus)  --pushed-down filters-->  crossJoin(broadcast(queries))
        → project(score)  → filter(score ≥ t)  → per-query top-k

* The broadcast means the corpus is never shuffled for scoring — each corpus
  partition scores all queries locally (one pass, map-side).
* The score-threshold filter runs BEFORE the top-k window, so the only
  shuffle (partition by q_id for ranking) carries the surviving candidates,
  not Q×N rows.  With AQE the post-filter exchange coalesces.
* Ties broken by ``vec_id`` so top-k is deterministic (SURVEY §7 risk 2 —
  the reference inherits Qdrant's internal tie order; we pin ours).
* For corpora above ``plans.strategy.FULL_SCAN_THRESHOLD`` the ANN path
  (operators.ann) pre-buckets candidates; this module is the exact engine
  that also serves as the ANN recall oracle.

A single driver-held probe (the HTTP search request) takes a shorter plan.
It arrives as one folded ``array<double>`` literal
(``functions.vector.probe_literal``) instead of a broadcast one-row frame,
and its ranking is ``orderBy(score, id).limit(k)``, which Spark plans as
``TakeOrderedAndProject``:

    scan(corpus) → project(score vs literal) → filter(score ≥ t)
        → TakeOrderedAndProject(k)

Each partition keeps its own top-k and the driver merges them inside the
collect's one job: no broadcast build, no ``Exchange``, no rank column (the
rows collect in rank order).  ``top_k`` holds both rankings.  The probe's
cosine norm is a literal computed on the driver, and a thresholded score
comes from a generator the filter cannot be pushed through
(``score_pairs``), so each corpus row runs one dot fold and one norm fold.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import (
    cosine_sql,
    dot_sql,
    l1_distance_sql,
    l2_distance_sql,
    probe_literal,
    probe_norm_sql,
)

DEFAULT_SCORE_THRESHOLD = 0.65  # settings.similarity_threshold (settings.py:22)
MAX_K = 100  # SearchRequest bound (src/api/schemas.py:64)

# Qdrant's public Distance enum (the reference pins COSINE,
# qdrant_client.py:105; the other three are Qdrant surface generality).
# Value: (score expression builder, True when lower-is-better — distances
# rank ascending, similarities descending, matching Qdrant's per-metric
# result order).
METRICS = {
    "cosine": (cosine_sql, False),
    "dot": (dot_sql, False),
    "euclid": (l2_distance_sql, True),
    "manhattan": (l1_distance_sql, True),
}


def validate_search_args(k: int, score_threshold: float | None) -> None:
    """P7 request-validation predicates (src/api/schemas.py:61-72): the
    reference's Pydantic bounds enforced at plan-build time — the engine's
    analyzer stage."""
    if not 1 <= k <= MAX_K:
        raise ValueError(f"k must be in [1, {MAX_K}], got {k}")
    if score_threshold is not None and not 0.0 <= score_threshold <= 1.0:
        raise ValueError(f"score_threshold must be in [0, 1], got {score_threshold}")


def resolve_metric(metric: str):
    """Fail-loud metric lookup: a typo like ``metric='l2'`` gets the valid
    options, not a bare KeyError (same analyzer-stage style as
    ``validate_search_args``)."""
    try:
        return METRICS[metric]
    except KeyError:
        raise ValueError(
            f"unknown metric {metric!r}; valid metrics: {sorted(METRICS)}"
        ) from None


def score_pairs(
    corpus: DataFrame,
    queries: DataFrame | Sequence[float],
    *,
    corpus_vec: str = "embedding",
    query_vec: str = "q_emb",
    metric: str = "cosine",
    filtered: bool = False,
) -> DataFrame:
    """Cross-score every (corpus row × query row) under ``metric``
    (any of ``METRICS``; default cosine, the reference's pinned choice).

    Query side is broadcast (small); scoring stays in whole-stage codegen.
    One driver-held vector (a sequence of floats) is attached to every
    corpus row as ``query_vec`` instead, a folded literal
    (``probe_literal``) with no join; under cosine its norm is a literal
    too (``probe_norm_sql``), so each row folds only its own vector.

    ``filtered`` (a single probe whose caller filters on ``score``) emits
    the score from a one-element ``explode``.  A filter on a projected
    score is pushed below the projection with the score expression
    substituted, and its inferred ``isnotnull`` repeats it, so every row
    would be scored twice in the filter and each passing row once more in
    the projection; a generator's output is not substituted, so each row
    is scored once.
    """
    expr_builder, _ = resolve_metric(metric)
    if isinstance(queries, DataFrame):
        score = expr_builder(corpus_vec, query_vec)
        return with_probe(corpus, queries, query_vec).withColumn("score", F.expr(score))
    vec = [float(x) for x in queries]
    if expr_builder is cosine_sql:
        score = cosine_sql(corpus_vec, query_vec, probe_norm_sql(vec))
    else:
        score = expr_builder(corpus_vec, query_vec)
    probed = with_probe(corpus, probe_literal(vec), query_vec)
    if filtered:
        return probed.select("*", F.expr(f"explode(array({score})) AS score"))
    return probed.withColumn("score", F.expr(score))


def with_probe(
    corpus: DataFrame,
    queries,
    query_vec: str = "q_emb",
    derived: dict | None = None,
) -> DataFrame:
    """Every corpus row paired with every query, plus the probe-side
    columns ``derived`` (name → SQL over ``query_vec``, or a Column such
    as a literal computed on the driver): a query frame
    gets them and is broadcast and cross-joined; a single probe
    ``Column`` becomes the column ``query_vec``, which the optimizer
    inlines as a literal, and ``derived`` is evaluated on each row."""
    derived = {
        c: e if isinstance(e, Column) else F.expr(e)
        for c, e in (derived or {}).items()
    }
    if isinstance(queries, Column):
        out = corpus.withColumn(query_vec, queries)
        return out.withColumns(derived) if derived else out
    probes = queries.withColumns(derived) if derived else queries
    return corpus.crossJoin(F.broadcast(probes))


def top_k(
    scored: DataFrame,
    n: int,
    order: list,
    cols: list,
    *,
    per: str | None = "q_id",
    offset: int | None = None,
) -> DataFrame:
    """The rows ranked ``offset+1 … offset+n`` of ``scored`` under
    ``order`` (sort Columns, a unique key last, so ties resolve the same
    way on every run), projected to ``cols``.

    With ``per`` (a query id column) each query is ranked by a
    ``row_number`` window partitioned on it, and ``cols`` may name the
    ``rank`` column.  With ``per=None`` (one probe) the ranking is
    ``orderBy(order).select(cols).limit(n)``, planned as
    ``TakeOrderedAndProject``: a per-partition top-n merged in the one job
    that collects it, no shuffle.  That plan has no rank column; its rows
    collect in rank order."""
    if per is None:
        ranked = scored.orderBy(*order).select(*cols)
        return (ranked.offset(offset) if offset else ranked).limit(n)
    w = Window.partitionBy(per).orderBy(*order)
    keep = F.col("rank") <= n + (offset or 0)
    if offset is not None:
        keep = keep & (F.col("rank") > offset)
    return (
        scored.withColumn("rank", F.row_number().over(w)).filter(keep).select(*cols)
    )


def knn_search(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    score_threshold: float | None = None,
    label_filter: list | None = None,
    query_filter: dict | None = None,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "q_id",
    query_vec: str = "q_emb",
    metric: str = "cosine",
    offset: int = 0,
    keep: tuple = (),
) -> DataFrame:
    """Q1: per-query top-k under ``metric`` (default cosine, the
    reference's pinned choice; Qdrant's other public metrics — dot,
    euclid, manhattan — rank with the metric's own polarity: distances
    ascending, similarities descending), optional keyword filter +
    threshold.

    Mirrors qdrant_client.py:311-405: (1) predicate pushdown of the keyword
    filter (P1/P2 — reaches the parquet scan), (2) similarity projection
    (F2), (3) per-metric-polarity threshold (P5, qdrant_client.py:372 —
    Qdrant's ``score_threshold`` means "exclude results worse than", so a
    similarity floor ``score >= t`` for cosine/dot and a distance ceiling
    ``score <= t`` for euclid/manhattan), (4) top-k per query (T1) via
    row_number window, deterministic vec_id tiebreak.

    ``query_filter`` takes Qdrant's full public ``Filter`` dict
    (must/should/must_not/min_should, ``operators.payload_index.
    build_filter``) — like Qdrant's ``search(query_filter=…)``, the
    whole combinator tree prunes the corpus BEFORE scoring and pushes to
    the scan (the reference only ever passes must-conjunctions,
    qdrant_client.py:355-363).

    ``offset`` is Qdrant's search-pagination parameter: skip the first
    ``offset`` hits, return the next ``k``; ``rank`` stays the ABSOLUTE
    position (offset+1 … offset+k), so pages concatenate into the full
    ranking.  Unlike the scroll family's keyset cursors this is positional
    — Qdrant documents the same caveat (each page re-ranks offset+k
    candidates), so deep pagination belongs to scroll, not offset.

    ``keep`` names corpus columns carried unchanged into each ranked row
    (after ``score``), so a caller that needs the hits' payload reads it
    from this one scan instead of joining the hits back onto the corpus.
    The columns ride through the ranking shuffle only after the
    per-partition top-k limit; ``keep=()`` leaves the plan as it was.

    ``queries`` is a (q_id, q_emb) frame, or one driver-held vector,
    which takes the single-probe plan (module docstring) and returns
    (vec_id, score, *keep) in rank order.

    Returns: (q_id, vec_id, rank, score, *keep) — score rounded to 6dp for
    stable cross-engine comparison; ranking uses the unrounded value.
    """
    if offset < 0:
        raise ValueError(f"offset must be >= 0, got {offset}")
    _, lower_is_better = resolve_metric(metric)
    if lower_is_better:
        # distances are unbounded above — only the similarity bound from
        # the reference's schema (0..1) doesn't apply
        validate_search_args(k, None)
        if score_threshold is not None and score_threshold < 0.0:
            raise ValueError(
                f"score_threshold must be >= 0 for {metric!r}, got {score_threshold}"
            )
    else:
        validate_search_args(k, score_threshold)
    if label_filter is not None:
        corpus = corpus.filter(F.col("label").isin(label_filter))
    if query_filter is not None:
        from .payload_index import build_filter

        corpus = corpus.filter(
            build_filter(query_filter, id_col=corpus_id, schema=corpus.schema)
        )
    scored = score_pairs(
        corpus, queries, corpus_vec=corpus_vec, query_vec=query_vec, metric=metric,
        filtered=score_threshold is not None,
    )
    if score_threshold is not None:
        if lower_is_better:
            scored = scored.filter(F.col("score") <= float(score_threshold))
        else:
            scored = scored.filter(F.col("score") >= float(score_threshold))
    order = [F.asc("score") if lower_is_better else F.desc("score"), F.col(corpus_id)]
    score = F.round("score", 6).alias("score")
    if not isinstance(queries, DataFrame):
        return top_k(scored, k, order, [corpus_id, score, *keep], per=None, offset=offset)
    return top_k(
        scored, k, order, [query_id, corpus_id, "rank", score, *keep],
        per=query_id, offset=offset,
    )


def fusion_search(
    corpus: DataFrame,
    weighted_queries: DataFrame,
    k: int = 10,
    *,
    per_query_k: int | None = None,
    corpus_id: str = "vec_id",
) -> DataFrame:
    """Q2: weighted multi-vector fusion (advanced_indexing.py:280-348).

    Per query vector: top ``2k`` candidates (the reference searches ``k*2``,
    advanced_indexing.py:306-311); then per candidate point:
    ``score = Σ weight_i · score_i`` and ``votes = #queries retrieving it``
    (:313-328); composite order (score desc, votes desc) limit k (:330-335).

    ``weighted_queries``: (q_id, q_emb, weight).
    Returns: (vec_id, fused_score, votes).
    """
    per_query_k = per_query_k or 2 * k
    hits = knn_search(corpus, weighted_queries.select("q_id", "q_emb"), per_query_k, corpus_id=corpus_id)
    hits = hits.join(F.broadcast(weighted_queries.select("q_id", "weight")), "q_id")
    fused = (
        hits.groupBy(corpus_id)
        .agg(
            F.round(F.sum(F.col("score") * F.col("weight")), 6).alias("fused_score"),
            F.count("*").alias("votes"),
        )
        .orderBy(F.desc("fused_score"), F.desc("votes"), F.col(corpus_id))
        .limit(k)
    )
    return fused


def verify(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    threshold: float = DEFAULT_SCORE_THRESHOLD,
    query_id: str = "q_id",
    query_label: str = "claim_label",
) -> DataFrame:
    """Q3 (1:1): restrict the corpus to the claimed identity, compare the
    best score against the threshold (api_spec.md:478-502).

    ``queries``: (q_id, q_emb, claim_label).
    Returns: (q_id, best_score, verified).
    """
    scored = corpus.join(
        F.broadcast(queries), F.col("label") == F.col(query_label), "inner"
    ).withColumn("score", F.expr(cosine_sql("embedding", "q_emb")))
    return (
        scored.groupBy(query_id)
        .agg(F.round(F.max("score"), 6).alias("best_score"))
        .withColumn("verified", F.col("best_score") >= F.lit(threshold))
        .select(query_id, "best_score", "verified")
    )


def recommend_probes(
    corpus: DataFrame,
    examples: DataFrame,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    lookup_from: DataFrame | None = None,
) -> DataFrame:
    """The ``average_vector`` probe synthesis shared by every recommend
    variant (``recommend``, ``recommend_groups``): resolve the example
    point ids against the corpus, then per query::

        q = avg(positives)                        if no negatives
        q = avg(positives) + (avg(positives) - avg(negatives))

    ``examples``: (q_id, vec_id, polarity∈{'pos','neg'}).  Request-sized
    throughout — posexplode → per-dimension avg → array re-assembly all
    run on the bounded example set.  Returns (q_id, q_emb).

    ``lookup_from`` is Qdrant's ``recommend(lookup_from=…)``: resolve the
    example ids against ANOTHER collection (same id/vector column names)
    while still searching ``corpus`` — the cross-collection
    recommend-by-example pattern.  The lookup side is touched only by the
    request-sized example join, never scanned for scoring."""
    source = corpus if lookup_from is None else lookup_from
    ex_vecs = examples.join(
        source.select(F.col(corpus_id).alias("vec_id"), F.col(corpus_vec).alias("_emb")),
        "vec_id",
    )
    dims = ex_vecs.select(
        "q_id", "polarity", F.posexplode(F.col("_emb")).alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    per_dim = dims.groupBy("q_id", "pos").agg(
        F.avg(F.when(F.col("polarity") == "pos", F.col("v"))).alias("ap"),
        F.avg(F.when(F.col("polarity") == "neg", F.col("v"))).alias("an"),
    )
    return (
        per_dim.withColumn(
            "qv",
            F.when(F.col("an").isNull(), F.col("ap")).otherwise(
                F.lit(2.0) * F.col("ap") - F.col("an")
            ),
        )
        .groupBy("q_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "qv"))), lambda s: s["qv"]
            ).alias("q_emb")
        )
    )


def recommend(
    corpus: DataFrame,
    examples: DataFrame,
    k: int = 10,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Q5: recommend-by-example — the Qdrant ``recommend`` API the reference's
    client library exposes alongside ``search`` (qdrant_client.py:311 wraps
    the same collection the public recommend endpoint serves).

    ``examples``: (q_id, vec_id, polarity∈{'pos','neg'}) — example *point
    ids*, resolved against the corpus, never raw vectors (the API contract).
    Per query the synthetic probe follows Qdrant's documented
    ``average_vector`` strategy::

        q = avg(positives)                        if no negatives
        q = avg(positives) + (avg(positives) - avg(negatives))

    and the example points themselves are excluded from the results.

    Plan shape: the example set is request-sized, so resolving vectors,
    building the probe (posexplode → per-dimension avg → array re-assembly)
    and the exclusion list all stay broadcast-side; the corpus is scanned
    once, map-side, exactly like ``knn_search``.

    Returns: (q_id, vec_id, rank, score).
    """
    validate_search_args(k, None)
    probes = recommend_probes(
        corpus, examples, corpus_id=corpus_id, corpus_vec=corpus_vec
    )
    scored = score_pairs(corpus, probes, corpus_vec=corpus_vec).join(
        F.broadcast(examples.select("q_id", F.col("vec_id").alias(corpus_id))),
        ["q_id", corpus_id],
        "left_anti",
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", corpus_id, "rank", F.round("score", 6).alias("score"))
    )


def recommend_best_score(
    corpus: DataFrame,
    examples: DataFrame,
    k: int = 10,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Q5 variant: Qdrant's ``RecommendStrategy.BEST_SCORE`` — instead of
    collapsing the examples into one synthetic probe (``average_vector``),
    every candidate is scored against ALL examples::

        best_pos = max over positives of cos(candidate, pos)
        best_neg = max over negatives of cos(candidate, neg)
        score    = best_pos                if best_pos > best_neg
                   −(best_neg · best_neg)  otherwise   (negative-dominated
                                                        candidates sink)

    the public formula of Qdrant's best-score reco scorer; with no
    negatives the score is plainly the best positive similarity.

    Plan shape: example vectors resolve request-side and collapse to ONE
    (pos[], neg[]) array row per query (broadcast); the corpus is scanned
    once and both maxima are map-side ``aggregate`` folds over the array —
    ``greatest`` of exact doubles is order-independent, so the fold equals
    the oracle's MAX bit-for-bit.  Only the ranking shuffles, exactly like
    ``knn_search``.  Example points are excluded (API contract).

    Returns: (q_id, vec_id, rank, score).
    """
    validate_search_args(k, None)
    ex_vecs = examples.join(
        corpus.select(F.col(corpus_id).alias("vec_id"), F.col(corpus_vec).alias("_emb")),
        "vec_id",
    )
    arrs = ex_vecs.groupBy("q_id").agg(
        F.collect_list(F.when(F.col("polarity") == "pos", F.col("_emb"))).alias("_pos"),
        F.collect_list(F.when(F.col("polarity") == "neg", F.col("_emb"))).alias("_neg"),
    )

    def best(arr: str) -> str:
        return (
            f"aggregate({arr}, CAST(-2.0 AS DOUBLE), "
            f"(acc, p) -> greatest(acc, {cosine_sql(corpus_vec, 'p')}))"
        )

    score = (
        f"CASE WHEN {best('_pos')} > {best('_neg')} THEN {best('_pos')} "
        f"ELSE -({best('_neg')} * {best('_neg')}) END"
    )
    scored = (
        corpus.crossJoin(F.broadcast(arrs))
        .withColumn("score", F.expr(score))
        .join(
            F.broadcast(examples.select("q_id", F.col("vec_id").alias(corpus_id))),
            ["q_id", corpus_id],
            "left_anti",
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", corpus_id, "rank", F.round("score", 6).alias("score"))
    )


def recommend_sum_scores(
    corpus: DataFrame,
    examples: DataFrame,
    k: int = 10,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Q5 variant: Qdrant's third public recommend strategy
    (``RecommendStrategy.SUM_SCORES``) — every candidate scores against
    ALL examples, positives add, negatives subtract::

        score = Σ over positives of cos(candidate, pos)
              − Σ over negatives of cos(candidate, neg)

    (the strategy Qdrant documents as the relevance-feedback / Rocchio
    scorer: unlike ``best_score`` it rewards breadth across positives
    rather than the single closest one).

    Determinism: example vectors collapse to ONE signed array row per
    query (broadcast); each contribution is cast to exact DECIMAL(18,12)
    and folded through a DECIMAL(27,12) accumulator — order-independent
    (the RRF discipline), so collect_list's nondeterministic array order
    cannot perturb the sum.  Only the ranking shuffles, exactly like
    ``knn_search``.  Example points are excluded (API contract).

    Returns: (q_id, vec_id, rank, score).
    """
    validate_search_args(k, None)
    ex_vecs = examples.join(
        corpus.select(F.col(corpus_id).alias("vec_id"), F.col(corpus_vec).alias("_emb")),
        "vec_id",
    )
    # one row per query: [(±1 sign, example vector), ...]
    arrs = ex_vecs.groupBy("q_id").agg(
        F.collect_list(
            F.struct(
                F.when(F.col("polarity") == "pos", F.lit(1.0))
                .otherwise(F.lit(-1.0))
                .alias("sign"),
                F.col("_emb").alias("emb"),
            )
        ).alias("_ex")
    )
    # DECIMAL(27,12) accumulator: |contribution| ≤ 1 per example, request-
    # sized example lists — the 15-digit integer part never overflows.
    score = (
        "CAST(aggregate(transform(_ex, x -> CAST(x.sign * "
        + cosine_sql(corpus_vec, "x.emb")
        + " AS DECIMAL(18,12))), CAST(0 AS DECIMAL(27,12)), "
        "(acc, v) -> CAST(acc + v AS DECIMAL(27,12))) AS DOUBLE)"
    )
    scored = (
        corpus.crossJoin(F.broadcast(arrs))
        .withColumn("score", F.expr(score))
        .join(
            F.broadcast(examples.select("q_id", F.col("vec_id").alias(corpus_id))),
            ["q_id", corpus_id],
            "left_anti",
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", corpus_id, "rank", F.round("score", 6).alias("score"))
    )


def multivector_maxsim(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    corpus_id: str = "doc_id",
    corpus_vecs: str = "vectors",
    query_vecs: str = "q_vecs",
) -> DataFrame:
    """Q2 extension: Qdrant MULTIVECTOR collections with the ``MaxSim``
    comparator (ColBERT-style late interaction) — a point stores a LIST
    of vectors; a multivector query scores against it as::

        score(q, d) = Σ over query vectors t of  max over doc vectors v
                      of cos(t, v)

    the late-interaction scorer Qdrant applies when a named vector is
    configured with ``MultiVectorConfig(comparator=MAX_SIM)``.

    Plan shape: queries collapse to one broadcast array row each; the
    corpus is scanned once and the whole MaxSim double fold (outer sum
    over query tokens, inner max over doc vectors) runs map-side in ONE
    fused higher-order expression — no explode, no per-token shuffle, no
    UDF.  Determinism: the inner fold is ``greatest`` of exact doubles
    (≡ MAX, order-independent); the outer fold adds in the query array's
    fixed order, so it is reproducible and equals any sequential
    left-fold restatement.  Only the ranking shuffles.  At 100 TB the
    multivector column costs exactly its bytes — token vectors stay
    packed in one array cell, never row-expanded.

    ``corpus``: (corpus_id, corpus_vecs array<array<float>>);
    ``queries``: (q_id, query_vecs array<array<float>>).
    Returns: (q_id, <corpus_id>, rank, score).
    """
    validate_search_args(k, None)
    maxsim = (
        f"aggregate({query_vecs}, CAST(0.0 AS DOUBLE), (qacc, qv) -> qacc + "
        f"aggregate({corpus_vecs}, CAST(-2.0 AS DOUBLE), (dacc, dv) -> "
        f"greatest(dacc, {cosine_sql('dv', 'qv')})))"
    )
    scored = corpus.crossJoin(F.broadcast(queries)).withColumn(
        "score", F.expr(maxsim)
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", corpus_id, "rank", F.round("score", 6).alias("score"))
    )


def context_search(
    corpus: DataFrame,
    context: DataFrame,
    k: int = 10,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Q7 variant: Qdrant's context-ONLY search (``query_points`` with a
    bare ``ContextQuery`` — no target): each (positive, negative) pair
    contributes ``min(0, cos(c, pos) − cos(c, neg))`` and candidates rank
    by the summed loss — 0 means inside every pair's positive half-space;
    the less negative, the better.  This is ``discover`` with the hard
    forall-filter relaxed into a soft penalty (and no target tiebreaker).

    Determinism: each pair's contribution is cast to exact DECIMAL(18,12)
    and folded through a DECIMAL accumulator — order-independent (the RRF
    discipline), so collect_list's nondeterministic array order cannot
    perturb the sum.  Plan: pair vectors collapse to one broadcast array
    row per query; the fold is map-side; only the ranking shuffles.

    Returns: (q_id, vec_id, rank, score) — score the summed loss as
    DOUBLE.
    """
    validate_search_args(k, None)
    vecs = corpus.select(
        F.col(corpus_id).alias("_cid"), F.col(corpus_vec).alias("_cemb")
    )
    pairs = (
        context.join(
            vecs.select(F.col("_cid").alias("pos_id"), F.col("_cemb").alias("pos_emb")),
            "pos_id",
        )
        .join(
            vecs.select(F.col("_cid").alias("neg_id"), F.col("_cemb").alias("neg_emb")),
            "neg_id",
        )
        .groupBy("q_id")
        .agg(F.collect_list(F.struct("pos_emb", "neg_emb")).alias("ctx"))
    )
    # accumulator DECIMAL(27,12): each |contribution| ≤ 2, so a 15-digit
    # integer part never overflows; the merge casts back to the
    # accumulator type (Spark's decimal + widens precision, and
    # ``aggregate`` requires the merge to return the accumulator type
    # exactly) — scale 12 is preserved, so the sum stays exact.
    loss = (
        "CAST(aggregate(transform(ctx, p -> CAST(least(0e0, "
        + cosine_sql(corpus_vec, "p.pos_emb")
        + " - "
        + cosine_sql(corpus_vec, "p.neg_emb")
        + ") AS DECIMAL(18,12))), CAST(0 AS DECIMAL(27,12)), "
        "(acc, x) -> CAST(acc + x AS DECIMAL(27,12))) AS DOUBLE)"
    )
    scored = corpus.crossJoin(F.broadcast(pairs)).withColumn("score", F.expr(loss))
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", corpus_id, "rank", "score")
    )


def search_groups(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    group_col: str = "label",
    n_groups: int = 5,
    group_size: int = 3,
    corpus_id: str = "vec_id",
    exclude: DataFrame | None = None,
) -> DataFrame:
    """Q6: grouped search — Qdrant's ``search_groups`` API over the payload
    field the reference filters on (``user_id``/``label``,
    qdrant_client.py:354-366): top ``n_groups`` groups per query ranked by
    their best hit, at most ``group_size`` hits per group.  For Qdrant's
    ``with_lookup`` option compose with ``attach_group_lookup`` (persist
    the bounded grouped result first so the ranking evaluates once).

    One shuffle on q_id serves all three windows: hash(q_id) satisfies the
    (q_id, group) clustering (subset rule), so the hit ranking, group_best
    and dense_rank all plan as sorts over the same exchange — grouping adds
    no extra shuffle over plain top-k (asserted in test_plans).

    ``exclude``: (q_id, <corpus_id>) pairs dropped from candidates BEFORE
    any ranking (the recommend variants exclude their example points this
    way) — request-sized, so the anti-join broadcasts.

    Returns: (q_id, <group_col>, group_rank, vec_id, hit_rank, score).
    """
    scored = score_pairs(corpus, queries)
    if exclude is not None:
        scored = scored.join(
            F.broadcast(exclude.select("q_id", corpus_id)),
            ["q_id", corpus_id],
            "left_anti",
        )
    scored = scored.repartition("q_id")
    wg = Window.partitionBy("q_id", group_col).orderBy(F.desc("score"), F.col(corpus_id))
    hits = scored.withColumn("hit_rank", F.row_number().over(wg)).filter(
        F.col("hit_rank") <= group_size
    )
    hits = hits.withColumn(
        "group_best", F.max("score").over(Window.partitionBy("q_id", group_col))
    ).withColumn(
        "group_rank",
        F.dense_rank().over(
            Window.partitionBy("q_id").orderBy(F.desc("group_best"), F.col(group_col))
        ),
    )
    return hits.filter(F.col("group_rank") <= n_groups).select(
        "q_id",
        group_col,
        "group_rank",
        corpus_id,
        "hit_rank",
        F.round("score", 6).alias("score"),
    )


def recommend_groups(
    corpus: DataFrame,
    examples: DataFrame,
    *,
    group_col: str = "label",
    n_groups: int = 5,
    group_size: int = 3,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Qdrant ``recommend_groups``: the recommend-by-example probe
    (``average_vector`` strategy, example points excluded) composed with
    grouped ranking — top ``n_groups`` payload groups per query by best
    hit, at most ``group_size`` hits each.

    Pure composition: ``recommend_probes`` (request-sized synthesis) into
    ``search_groups`` (one q_id shuffle serves all three windows), the
    example exclusion as a broadcast anti-join before ranking — the
    composed plan has exactly the grouped-search shape, no extra
    shuffle."""
    probes = recommend_probes(
        corpus, examples, corpus_id=corpus_id, corpus_vec=corpus_vec
    )
    return search_groups(
        corpus,
        probes,
        group_col=group_col,
        n_groups=n_groups,
        group_size=group_size,
        corpus_id=corpus_id,
        exclude=examples.select("q_id", F.col("vec_id").alias(corpus_id)),
    )


def attach_group_lookup(
    groups: DataFrame,
    lookup: DataFrame,
    *,
    group_col: str = "label",
    lookup_id: str = "doc_id",
    lookup_cols: list[str] | None = None,
) -> DataFrame:
    """Qdrant's public ``with_lookup`` option on grouped search: attach,
    per group, the record of the point in ANOTHER collection whose id
    equals the group value.  ``groups`` is a (bounded) ``search_groups``
    result — persist it when composing, so the ranking isn't re-evaluated
    for the key derivation.

    Two broadcast joins, zero shuffles of the lookup collection:
    (1) the bounded group-key set broadcasts into ONE streaming pass over
    the lookup collection (inner — reduces it to ≤ |keys| rows);
    (2) that bounded match set broadcasts back as the build side of the
    left join (the preserved side of an outer join can't be the broadcast
    side, so the reduction step is what keeps the big side un-shuffled).
    Missing lookup ids keep the group and attach NULLs, matching Qdrant
    (absent lookup → no record).  Asserted in test_query_surface."""
    cols = lookup_cols or [c for c in lookup.columns if c != lookup_id]
    looked = lookup.select(
        F.col(lookup_id).alias("__lk"),
        *[F.col(c).alias(f"lookup_{c}") for c in cols],
    )
    keys = groups.select(F.col(group_col).alias("__lk")).distinct()
    matched = looked.join(F.broadcast(keys), "__lk")
    return groups.join(
        F.broadcast(matched), groups[group_col] == matched["__lk"], "left"
    ).drop("__lk")


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    candidates: int = 15,
    diversity: float = 0.5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversity reranking — Qdrant's public
    ``mmr`` query option (``query_points`` with ``mmr: {diversity,
    candidates_limit}``; also the canonical diverse-sample selector for
    training-data curation): take the top ``candidates`` by similarity to
    the probe, then greedily select ``k``, each step maximizing

        λ·sim(q, c) − (1 − λ)·max_{s ∈ selected} sim(c, s)

    (λ = 1 − ``diversity``, matching Qdrant's public parameter polarity:
    ``diversity`` → 1 means most diverse, → 0 means pure relevance — i.e.
    ``diversity`` weights the anti-similarity term, λ the relevance term;
    ties broken by smaller id; the first pick is the plain argmax).

    Plan shape: ONE corpus scan scores the probes (broadcast crossJoin,
    WindowGroupLimit top-``candidates`` keeps the vectors); each probe's
    bounded candidate set packs into a single ``collect_list(struct)``
    row, and the greedy loop runs per-probe in one ``applyInPandas`` —
    never on the driver, never a second pass over the corpus, no
    candidate self-join.

    Cross-engine determinism: probe similarities are the Catalyst DOUBLE
    fold the oracles use; the pairwise candidate sims are recomputed in
    NumPy with dimension-at-a-time accumulation — bit-equal to the same
    sequential fold (the ``cosine_pudf`` discipline,
    tests/test_kernels.py) — and the greedy comparisons apply the same
    ``λ·rel − (1−λ)·maxsim`` IEEE-754 expression, so the selection
    matches a DuckDB recursive-CTE restatement bit-for-bit.

    Returns: (q_id, mmr_rank, vec_id, score) — score is the ORIGINAL
    probe similarity of the selected point (Qdrant returns the underlying
    scores, not the MMR objective), rounded to 6dp.
    """
    import numpy as np
    import pandas as pd

    if not 0.0 <= float(diversity) <= 1.0:
        raise ValueError(f"diversity must be in [0, 1], got {diversity}")
    lam = 1.0 - float(diversity)  # Qdrant polarity: diversity=0 → pure relevance
    scored = score_pairs(corpus, queries, corpus_vec=corpus_vec)
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.col(corpus_id))
    packed = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= candidates)
        .groupBy("q_id")
        .agg(
            F.collect_list(
                F.struct(
                    F.col(corpus_id).alias("v"),
                    F.col(corpus_vec).alias("emb"),
                    F.col("score").alias("rel"),
                )
            ).alias("cands")
        )
    )

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        items = list(pdf["cands"].iloc[0])
        ids = [int(it["v"]) for it in items]
        rel = {int(it["v"]): float(it["rel"]) for it in items}
        M = np.stack([np.asarray(it["emb"], dtype=np.float64) for it in items])
        n_c = len(ids)
        # pairwise cosine, dimension-at-a-time (bit-equal to the fold)
        dot = np.zeros((n_c, n_c))
        for d in range(M.shape[1]):
            col = M[:, d]
            dot += np.outer(col, col)
        denom = np.maximum(np.sqrt(np.diag(dot)), 1e-12)
        cosm = dot / np.outer(denom, denom)
        pos = {v: i for i, v in enumerate(ids)}
        order = sorted(ids)
        n = min(k, n_c)
        best, bm = None, None
        for v in order:  # argmax rel, ties → smaller id (strict > keeps first)
            if bm is None or rel[v] > bm:
                bm, best = rel[v], v
        sel = [best]
        while len(sel) < n:
            best, bm = None, None
            for v in order:
                if v in sel:
                    continue
                mx = max(float(cosm[pos[v], pos[s]]) for s in sel)
                m = lam * rel[v] - (1.0 - lam) * mx
                if bm is None or m > bm:
                    bm, best = m, v
            sel.append(best)
        return pd.DataFrame(
            {
                "q_id": [int(pdf["q_id"].iloc[0])] * len(sel),
                "mmr_rank": range(1, len(sel) + 1),
                "vec_id": sel,
                "score": [rel[v] for v in sel],
            }
        )

    out = packed.groupBy("q_id").applyInPandas(
        _greedy, "q_id long, mmr_rank int, vec_id long, score double"
    )
    return out.withColumn("score", F.round("score", 6))


def discover(
    corpus: DataFrame,
    targets: DataFrame,
    context: DataFrame,
    k: int = 10,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Q7: discovery search — Qdrant's ``discover`` API: rank by similarity
    to a target, restricted to the region the context pairs carve out.

    ``targets``: (q_id, q_emb).  ``context``: (q_id, pos_id, neg_id) pairs
    of example *point ids*.  A candidate is context-consistent for a pair
    when it is closer to the positive than to the negative example
    (Qdrant's context filter: each pair contributes zero loss only on the
    positive side of its bisecting hyperplane); candidates must satisfy
    EVERY pair, then rank by target cosine.

    Plan shape: pair vectors resolve broadcast-side and collapse to one
    array row per query; the corpus is scanned once and the context test is
    a map-side ``forall`` conjunction — only the surviving candidates reach
    the ranking shuffle (an explode+groupBy would shuffle Q×N rows).

    Returns: (q_id, vec_id, rank, score).
    """
    validate_search_args(k, None)
    vecs = corpus.select(
        F.col(corpus_id).alias("_cid"), F.col(corpus_vec).alias("_cemb")
    )
    pairs = (
        context.join(
            vecs.select(
                F.col("_cid").alias("pos_id"), F.col("_cemb").alias("pos_emb")
            ),
            "pos_id",
        )
        .join(
            vecs.select(
                F.col("_cid").alias("neg_id"), F.col("_cemb").alias("neg_emb")
            ),
            "neg_id",
        )
        .select("q_id", "pos_emb", "neg_emb")
    )
    pair_arrays = pairs.groupBy("q_id").agg(
        F.collect_list(F.struct("pos_emb", "neg_emb")).alias("ctx")
    )
    ok_expr = (
        "forall(ctx, p -> "
        + cosine_sql(corpus_vec, "p.pos_emb")
        + " > "
        + cosine_sql(corpus_vec, "p.neg_emb")
        + ")"
    )
    cand = corpus.crossJoin(F.broadcast(pair_arrays)).filter(F.expr(ok_expr))
    ranked = cand.join(F.broadcast(targets), "q_id").withColumn(
        "score", F.expr(cosine_sql(corpus_vec, "q_emb"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.col(corpus_id))
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", corpus_id, "rank", F.round("score", 6).alias("score"))
    )


def similarity_matrix_topk(
    corpus: DataFrame,
    k: int = 5,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Q8: distance-matrix sampling — Qdrant's ``search_matrix`` API:
    pairwise similarity among the (filtered) points, top-``k`` neighbours
    per point, self excluded.

    This is the kNN-join special case query==corpus: callers pre-filter the
    corpus (the filter pushes to the scan on both legs); the per-point
    ranking shuffle carries only survivors.  For unfiltered 100 TB corpora
    the blocked-GEMM pair scan (operators.pairscan) is the bulk path — this
    operator is the request-sized API twin.

    Returns: (vec_id, other_id, rank, score).
    """
    probes = corpus.select(
        F.col(corpus_id).alias("other_id"), F.col(corpus_vec).alias("q_emb")
    )
    scored = (
        corpus.crossJoin(F.broadcast(probes))
        .filter(F.col(corpus_id) != F.col("other_id"))
        .withColumn("score", F.expr(cosine_sql(corpus_vec, "q_emb")))
    )
    w = Window.partitionBy(corpus_id).orderBy(F.desc("score"), F.col("other_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(corpus_id, "other_id", "rank", F.round("score", 6).alias("score"))
    )


def matrix_offsets(
    corpus: DataFrame,
    k: int = 5,
    *,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    max_sample: int = 4096,
) -> DataFrame:
    """Q8, offsets form — Qdrant's ``search_matrix_offsets`` response
    shape: the same sampled pairwise top-``k`` as ``search_matrix_pairs``
    (``similarity_matrix_topk``), but every point is addressed by its
    OFFSET into the sorted sample id list (the COO sparse-matrix encoding
    clients feed to numpy/scipy).  Flattened relationally: one row per
    non-zero, ``(row_offset, col_offset, score)`` plus the id mapping the
    response's ``ids`` array would carry.

    The offsets dimension is the sample id list itself — request-bounded
    by the API contract (Qdrant samples, default 10), so the global
    ordering window and both offset joins are broadcast-sized.  That
    precondition is ENFORCED, not assumed: the unpartitioned ordering
    window below moves the whole ``corpus`` argument to one partition,
    so an unbounded corpus is a caller bug — refuse it (``max_sample``,
    default 4096, far above Qdrant's sample bound) instead of silently
    degrading to a single-partition sort."""
    n = corpus.select(corpus_id).limit(int(max_sample) + 1).count()
    if n > int(max_sample):
        raise ValueError(
            f"matrix_offsets corpus exceeds max_sample={max_sample}: the "
            "offsets encoding globally orders the sample id list (single-"
            "partition window) — pass the SAMPLED points (Qdrant's "
            "search_matrix 'sample' contract), or raise max_sample "
            "deliberately"
        )
    pairs = similarity_matrix_topk(
        corpus, k, corpus_id=corpus_id, corpus_vec=corpus_vec
    )
    w = Window.orderBy(corpus_id)
    offs = corpus.select(corpus_id).withColumn(
        "off", (F.row_number().over(w) - 1).cast("bigint")
    )
    row_o = offs.select(
        F.col(corpus_id).alias("__rid"), F.col("off").alias("row_offset")
    )
    col_o = offs.select(
        F.col(corpus_id).alias("__cid"), F.col("off").alias("col_offset")
    )
    return (
        pairs.join(F.broadcast(row_o), F.col(corpus_id) == F.col("__rid"))
        .join(F.broadcast(col_o), F.col("other_id") == F.col("__cid"))
        .select(
            "row_offset",
            "col_offset",
            F.col(corpus_id).alias("row_id"),
            F.col("other_id").alias("col_id"),
            "score",
        )
    )


def apply_payload_selector(
    df: DataFrame, with_payload, *, payload_col: str = "metadata"
) -> DataFrame:
    """Qdrant's ``with_payload`` result selector (search/scroll/retrieve
    all take it): shape how much payload a response carries —

    - ``True``                      full payload (unchanged)
    - ``False``                     no payload (column dropped)
    - ``["k", ...]``                include only these keys
    - ``{"include": ["k", ...]}``   same, explicit form
    - ``{"exclude": ["k", ...]}``   everything but these keys

    Over the schemaless ``map<string,string>`` payload this is a
    ``map_filter`` projection — map-side, codegen, no shuffle.  For
    PROMOTED payload fields (operators/payload_index.py) the include
    selector is just ``select(...)`` — there it prunes the parquet
    ReadSchema, which is the 100 TB reason to promote hot fields: an
    include-list on promoted columns never reads the bytes it excludes,
    while a map payload always reads the whole map column."""
    if with_payload is True:
        return df
    if with_payload is False:
        return df.drop(payload_col)
    if isinstance(with_payload, (list, tuple)):
        spec = {"include": list(with_payload)}
    elif isinstance(with_payload, dict):
        spec = with_payload
    else:
        raise ValueError(f"with_payload: bool, list, or dict, got {with_payload!r}")
    if set(spec) == {"include"}:
        keys, keep = list(spec["include"]), True
    elif set(spec) == {"exclude"}:
        keys, keep = list(spec["exclude"]), False
    else:
        raise ValueError(f"payload selector needs exactly include OR exclude: {spec}")
    key_arr = F.array(*[F.lit(str(k)) for k in keys])
    pred = (
        (lambda k, _v: F.array_contains(key_arr, k))
        if keep
        else (lambda k, _v: ~F.array_contains(key_arr, k))
    )
    return df.withColumn(payload_col, F.map_filter(F.col(payload_col), pred))


def scroll_page(
    corpus: DataFrame,
    *,
    after_id=None,
    page_size: int = 100,
    id_col: str = "vec_id",
    scroll_filter: dict | None = None,
) -> DataFrame:
    """S9: keyset-paginated scroll — Qdrant's ``scroll`` API (list points
    with filter + ``next_page_offset``).  The cursor is ``id > after_id``,
    never OFFSET: the predicate pushes into the parquet scan and the page is
    a TakeOrderedAndProject (per-partition top-p, merge p rows on the
    driver) — no global sort, no skip-scan, at any corpus size.

    ``scroll_filter`` takes Qdrant's ``Filter`` dict (must/should/
    must_not/min_should — ``scroll(scroll_filter=…)``) and prunes the
    scan alongside the cursor; because the filter is stable across pages,
    keyset pagination under it stays disjoint + exhaustive over the
    matching subset.  Callers can equivalently pre-filter the DataFrame.
    Returns the page ordered by ``id_col``.
    """
    if scroll_filter is not None:
        from .payload_index import build_filter

        corpus = corpus.filter(
            build_filter(scroll_filter, id_col=id_col, schema=corpus.schema)
        )
    if after_id is not None:
        corpus = corpus.filter(F.col(id_col) > F.lit(after_id))
    return corpus.orderBy(id_col).limit(page_size)


def scroll_page_order_by(
    corpus: DataFrame,
    order_col: str,
    *,
    after: tuple | None = None,
    start_from=None,
    page_size: int = 100,
    id_col: str = "vec_id",
    direction: str = "asc",
    scroll_filter: dict | None = None,
) -> DataFrame:
    """S9 extension: Qdrant's ``scroll(order_by=…)`` (public API since
    1.8) — keyset pagination over an arbitrary payload field with the
    point id as tiebreaker, in either ``direction`` (Qdrant's
    ``order_by: {key, direction: asc|desc}``), optionally under a
    ``scroll_filter`` combinator Filter dict (pruned at the scan, stable
    across pages).  The cursor is the
    composite ``(order_value, id) > (after_value, after_id)`` predicate
    (``<`` throughout for desc — the keyset mirrors exactly); with a
    LITERAL cursor (the serving path: the client echoes the previous
    page's last row) both comparisons are column/literal ops and the
    whole OR-of-ANDs pushes into the parquet scan — asserted in
    tests/test_plans.py.  Each page is a TakeOrderedAndProject: no
    OFFSET skip-scan, no global sort, at any corpus size.

    Points with a NULL ``order_col`` are SKIPPED, matching Qdrant's
    ``scroll(order_by=…)`` contract (points missing the field are not
    returned).  Without this filter pagination is inconsistent: Spark
    sorts NULLs first, so NULL rows could fill page 1, yet the keyset
    predicate evaluates to NULL for them on every later page — and a
    NULL cursor value would make the filter all-NULL and terminate the
    scroll early.  The IS NOT NULL conjunct pushes to the scan alongside
    the cursor predicate.

    ``start_from`` is Qdrant's ``order_by: {key, start_from: value}`` —
    begin the scroll AT a given order value (inclusive: ``>= value`` asc,
    ``<= value`` desc) instead of the field's minimum/maximum.  It is a
    plain column/literal bound, so it pushes to the scan like the cursor;
    being stable across pages it composes with ``after`` (the cursor
    subsumes it from page 2 on, but keeping both conjuncts costs nothing
    and keeps the page set a pure function of the request)."""
    if direction not in ("asc", "desc"):
        raise ValueError(f"direction must be 'asc' or 'desc', got {direction!r}")
    desc = direction == "desc"
    if scroll_filter is not None:
        from .payload_index import build_filter

        corpus = corpus.filter(
            build_filter(scroll_filter, id_col=id_col, schema=corpus.schema)
        )
    corpus = corpus.filter(F.col(order_col).isNotNull())
    if start_from is not None:
        bound = (
            F.col(order_col) <= F.lit(start_from)
            if desc
            else F.col(order_col) >= F.lit(start_from)
        )
        corpus = corpus.filter(bound)
    if after is not None:
        av, aid = after
        if av is None:
            raise ValueError(
                "scroll_page_order_by: cursor order-value must not be None "
                "(NULL-field points are skipped, so no valid cursor has one)"
            )
        oc, ic = F.col(order_col), F.col(id_col)
        if desc:
            cursor = (oc < F.lit(av)) | ((oc == F.lit(av)) & (ic < F.lit(aid)))
        else:
            cursor = (oc > F.lit(av)) | ((oc == F.lit(av)) & (ic > F.lit(aid)))
        corpus = corpus.filter(cursor)
    order = (
        [F.desc(order_col), F.desc(id_col)] if desc else [F.asc(order_col), F.asc(id_col)]
    )
    return corpus.orderBy(*order).limit(page_size)


def detect(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    *,
    candidate_k: int = 50,
    query_id: str = "q_id",
) -> DataFrame:
    """Q4 (1:N identify): top-k candidate identities per probe with the best
    score per identity as confidence (api_spec.md:504-528; k ≤ 50).

    Candidate top-``candidate_k`` per probe, then per-identity best score,
    ranked; deterministic label tiebreak.
    Returns: (q_id, label, confidence, rank).
    """
    hits = knn_search(corpus, queries, candidate_k, query_id=query_id)
    with_label = hits.join(corpus.select("vec_id", "label"), "vec_id")
    w = Window.partitionBy(query_id).orderBy(F.desc("confidence"), F.col("label"))
    return (
        with_label.groupBy(query_id, "label")
        .agg(F.max("score").alias("confidence"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "label", F.round("confidence", 6).alias("confidence"), "rank")
    )
