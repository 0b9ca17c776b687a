"""The rescore family's one stage 2 (``ann._rescore_survivors``).

- Over a corpus without the at-rest companion column, each two-stage
  operator derives the column in its scan projection and returns exactly
  the rows it returns over the companion layout.
- Building a rescore plan is lazy: no operator, no ``store.search`` and no
  quantized ``VectorService.search`` starts a Spark job before the caller
  collects (no survivor id list is collected at plan-build time).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from robi_biometric_qdrant_vector_db_service_spark.operators import ann
from robi_biometric_qdrant_vector_db_service_spark.sources.catalog import load_table
from robi_biometric_qdrant_vector_db_service_spark.workload import _probes
from robi_biometric_qdrant_vector_db_service_spark.workload_ann import _companion_corpus
from tests.conftest import SF_SMOKE, jobs_during

OPERATORS = {
    "int8": lambda c, p: ann.int8_rescore_topk(c, p, k=10, oversample=3),
    "matryoshka": lambda c, p: ann.matryoshka_rescore_topk(
        c, p, k=10, prefix_dims=16, oversample=3
    ),
    "bq": lambda c, p: ann.bq_hamming_topk(c, p, k=10, oversample=4),
}


def test_companion_absent_derives_and_matches_companion_layout(spark):
    plain = load_table(spark, SF_SMOKE, "embeddings")
    staged = _companion_corpus(spark, SF_SMOKE)
    assert "e8" not in plain.columns and "e8" in staged.columns
    probes = _probes(spark, SF_SMOKE)
    for name, op in OPERATORS.items():
        derived = sorted(op(plain, probes).collect())
        at_rest = sorted(op(staged, probes).collect())
        assert derived, name
        assert derived == at_rest, name


def test_rescore_plan_building_starts_no_spark_job(spark, tmp_path, monkeypatch):
    from robi_biometric_qdrant_vector_db_service_spark.api.service import (
        VectorService,
    )
    from robi_biometric_qdrant_vector_db_service_spark.operators import store as st

    staged = _companion_corpus(spark, SF_SMOKE)
    probes = _probes(spark, SF_SMOKE)
    for name, op in OPERATORS.items():
        jobs, _ = jobs_during(spark, lambda: op(staged, probes))
        assert jobs == [], name

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(40)
    svc = VectorService(spark, str(tmp_path / "svc"))
    svc.store.add_batch(
        emb.select(
            F.col("vec_id").cast("string").alias("point_id"),
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
            F.concat(F.lit("u"), F.col("label")).alias("user_id"),
            F.create_map().cast("map<string,string>").alias("metadata"),
        )
    )
    for mode in ("int8", "binary"):
        jobs, _ = jobs_during(
            spark, lambda: svc.store.search(probes, k=5, quantization=mode)
        )
        assert jobs == [], mode

    # the service builds its hits plan through the store's one dispatch;
    # time that build alone (the service then collects, which is its job)
    built = []
    real = st.search_corpus

    def spy(*args, **kwargs):
        jobs, out = jobs_during(spark, lambda: real(*args, **kwargs))
        built.append((kwargs.get("quantization"), jobs))
        return out

    monkeypatch.setattr(st, "search_corpus", spy)
    probe = [float(x) for x in emb.first()["embedding"]]
    try:
        for mode in ("int8", "binary"):
            resp = svc.search({"embedding": probe, "k": 3, "quantization": mode})
            assert resp["total_results"] == 3, mode
    finally:
        svc.close()
    assert built == [("int8", []), ("binary", [])], built
