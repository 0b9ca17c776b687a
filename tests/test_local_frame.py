"""``session.local_frame``: driver-held rows as a ``LocalRelation``.

- For every column type the package feeds it, ``local_frame`` collects
  exactly what ``createDataFrame(<list>)`` collects.
- Its frames plan as a ``LocalRelation`` and never as a ``LogicalRDD`` (a
  Python RDD whose every scan runs Python workers).  The probe of
  ``VectorService.search`` is no frame at all: it plans as a literal.
- Nothing else in the package calls ``createDataFrame`` or
  ``sparkContext.parallelize``.
- A DDL string is parsed once per process, and the shared parse is not
  changed by the frames built from it.
"""

from __future__ import annotations

import ast
import pathlib
import uuid
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from robi_biometric_qdrant_vector_db_service_spark.session import local_frame

PACKAGE = (
    pathlib.Path(__file__).resolve().parents[1]
    / "robi_biometric_qdrant_vector_db_service_spark"
)

CASES = {
    "scalars_and_nulls": (
        [(1, 2, "a", 0.5), (None, None, None, None), (-(2**40), -7, "", 1e300)],
        "a bigint, b int, c string, d double",
    ),
    "arrays": (
        [(0, [0.25, -1.0, 3.0]), (1, []), (2, None)],
        "q_id bigint, q_emb array<double>",
    ),
    "maps": (
        [("p1", {"k": "v", "tier": "gold"}), ("p2", {}), ("p3", None)],
        "point_id string, metadata map<string,string>",
    ),
    "decimal": (
        [(1, Decimal("0.123456")), (2, Decimal("-123456789012.000001")), (3, None)],
        "b bigint, logratio decimal(18,6)",
    ),
    "empty_with_timestamp": (
        [],
        "user_id bigint, session_start timestamp, n_events bigint, "
        "total_value double",
    ),
}


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_collects_like_the_list_path(spark, case):
    rows, schema = CASES[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_takes_collected_rows_and_package_schemas(spark):
    """Rows from ``collect()`` (the codebook pins) and the package's own
    seed schemas, zero rows each, including ``array<tinyint>`` and
    ``array<float>``."""
    from robi_biometric_qdrant_vector_db_service_spark.operators.store import (
        _FULL_SCHEMA,
    )
    from robi_biometric_qdrant_vector_db_service_spark.streaming import (
        changefeed,
        neardup_embedding,
    )

    pinned = spark.range(3).select(
        F.col("id").cast("int").alias("cell"),
        F.array(F.col("id").cast("double"), F.lit(1.5)).alias("centroid"),
    )
    rows = pinned.collect()
    got = local_frame(spark, rows, "cell int, centroid array<double>")
    assert sorted(got.collect()) == sorted(rows)

    for schema in (
        _FULL_SCHEMA,
        changefeed.CHANGE_SCHEMA,
        neardup_embedding.VECS_SCHEMA,
    ):
        got = local_frame(spark, [], schema)
        want = spark.createDataFrame([], schema)
        assert got.schema == want.schema and got.collect() == [], schema


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_plans_as_local_relation(spark, case):
    rows, schema = CASES[case]
    plan = _plan(local_frame(spark, rows, schema))
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_local_frame_parses_each_ddl_once(spark, monkeypatch):
    from pyspark.sql.types import StructType

    from robi_biometric_qdrant_vector_db_service_spark.session import _ddl_schemas

    parsed = []
    real = StructType.fromDDL

    def counting(cls, ddl):
        parsed.append(ddl)
        return real(ddl)

    monkeypatch.setattr(StructType, "fromDDL", classmethod(counting))
    ddl = f"k_{uuid.uuid4().hex} bigint, v array<double>"
    frames = [local_frame(spark, [(i, [0.5] * i)], ddl) for i in range(3)]
    assert parsed == [ddl]
    before = _ddl_schemas(ddl)[0].json()
    assert [f.collect()[0][1] for f in frames] == [[], [0.5], [0.5, 0.5]]
    assert _ddl_schemas(ddl)[0].json() == before == real(ddl).json()


def test_search_probe_plans_as_a_literal(spark, tmp_path, monkeypatch):
    from robi_biometric_qdrant_vector_db_service_spark.api.service import (
        VectorService,
    )
    from robi_biometric_qdrant_vector_db_service_spark.operators import store as st

    svc = VectorService(spark, str(tmp_path / "svc"))
    svc.add_batch(
        {
            "embeddings": [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.6, 0.8, 0.0]],
            "user_ids": ["u1", "u2", "u1"],
        }
    )
    seen = []
    real = st.search_corpus

    def spy(corpus, queries, k, **kwargs):
        hits = real(corpus, queries, k, **kwargs)
        seen.append((queries, _plan(hits)))
        return hits

    monkeypatch.setattr(st, "search_corpus", spy)
    try:
        for body in (
            {"embedding": [1.0, 0.0, 0.0], "k": 2},
            {"embedding": [1.0, 0.0, 0.0], "k": 2, "quantization": "int8"},
        ):
            assert svc.search(body)["total_results"] == 2
    finally:
        svc.close()
    assert len(seen) == 2
    for queries, hits_plan in seen:
        assert queries == [1.0, 0.0, 0.0], queries  # the vector, not a frame
        assert "LocalRelation" not in hits_plan, hits_plan
        assert "LogicalRDD" not in hits_plan, hits_plan
        assert "from_json" not in hits_plan, hits_plan  # folded to a literal
        assert "[1.0,0.0,0.0]" in hits_plan, hits_plan


def test_only_local_frame_creates_frames_from_driver_rows():
    """Outside ``session.local_frame``, no package module calls
    ``createDataFrame`` (a Python list there becomes a Python RDD) or
    ``sparkContext.parallelize``."""
    creators, parallelizers = [], []
    for p in PACKAGE.rglob("*.py"):
        rel = p.relative_to(PACKAGE).as_posix()
        for n, line in enumerate(p.read_text().splitlines(), 1):
            if "createDataFrame(" in line:
                creators.append((rel, n))
            if "sparkContext.parallelize(" in line:
                parallelizers.append((rel, n))
    helper = next(
        node
        for node in ast.parse((PACKAGE / "session.py").read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name == "local_frame"
    )
    assert [path for path, _ in creators] == ["session.py"], creators
    assert helper.lineno <= creators[0][1] <= helper.end_lineno, creators
    assert not parallelizers, parallelizers
