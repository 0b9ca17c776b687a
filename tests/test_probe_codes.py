"""The driver twins of the quantized probe codes equal Spark's (hypothesis).

A single-probe int8 or binary search folds its probe's codes to a literal
computed on the driver: ``ann.int8_codes`` stands for ``INT8_QUANT_EXPR``
and ``ann.bq_words`` for ``bq_words_dynamic_expr``.  Random vectors, with
``x * 127`` at exact ``n + 0.5`` ties (and one ulp either side), ``|x| > 1``
clamps, -0.0, subnormals and the non-finite values ``probe_literal``
admits (±inf and the canonical NaN) mixed in, must code the same on both
sides, for lengths across the 32-dim word boundaries and the empty vector.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from robi_biometric_qdrant_vector_db_service_spark.functions.vector import (
    probe_literal,
)
from robi_biometric_qdrant_vector_db_service_spark.operators.ann import (
    INT8_QUANT_EXPR,
    bq_words,
    bq_words_dynamic_expr,
    int8_codes,
)
from robi_biometric_qdrant_vector_db_service_spark.session import local_frame


def _ties() -> list[float]:
    """x whose double product ``x * 127`` is exactly ``n + 0.5``, for every
    tie inside the clamp and just outside it, with their neighbours."""
    out = []
    for n in range(-130, 130):
        x = (n + 0.5) / 127
        for y in (x, math.nextafter(x, math.inf), math.nextafter(x, -math.inf)):
            out.append(y)
    return out


TIES = _ties()
assert sum(y * 127 == math.floor(y * 127) + 0.5 for y in TIES) > 100
SPECIALS = [
    -0.0,
    0.0,
    5e-324,
    -5e-324,
    2.2250738585072009e-308,  # largest subnormal
    -2.2250738585072014e-308,  # smallest normal
    1.0,
    -1.0,
    1.5,
    -3.0,
    1e308,
    -1.7976931348623157e308,
    math.inf,
    -math.inf,
    math.nan,
]
_elements = st.one_of(
    st.floats(allow_nan=True, allow_infinity=True, allow_subnormal=True).map(
        lambda x: math.nan if math.isnan(x) else x  # the NaN JSON can spell
    ),
    st.floats(min_value=-1.2, max_value=1.2),
    st.sampled_from(SPECIALS),
    st.sampled_from(TIES),
)
_vectors = st.lists(
    st.one_of(
        st.lists(_elements, max_size=70),
        st.integers(min_value=0, max_value=2).flatmap(
            lambda w: st.lists(_elements, min_size=32 * w, max_size=32 * w + 1)
        ),
    ),
    min_size=1,
    max_size=6,
)


def _spark_codes(spark, vecs):
    frame = local_frame(
        spark, list(enumerate(vecs)), "i int, v array<double>"
    )
    rows = frame.select(
        "i",
        F.expr(INT8_QUANT_EXPR.format(col="v")).alias("p8"),
        F.expr(bq_words_dynamic_expr("v")).alias("words"),
    ).collect()
    return {r["i"]: (list(r["p8"]), list(r["words"])) for r in rows}


@settings(max_examples=40, deadline=None)
@given(_vectors)
@example([TIES, SPECIALS, [], [math.nan] * 33, [-0.0] * 32])
def test_driver_codes_equal_spark(spark, vecs):
    for v in vecs:
        probe_literal(v)  # the twins only ever see admitted probes
    want = _spark_codes(spark, vecs)
    for i, v in enumerate(vecs):
        assert (int8_codes(v), bq_words(v)) == want[i], v


@pytest.mark.parametrize("quant", ["int8", "binary"])
def test_single_probe_codes_fold_to_a_literal(spark, quant):
    """Stage 1 of a single-probe search reads the codes as one literal:
    the optimized plan holds neither the quantization nor ``from_json``."""
    from robi_biometric_qdrant_vector_db_service_spark.operators import ann

    vecs = [[0.5, -0.25, 0.0], [0.1, 0.9, -0.4]]
    corpus = local_frame(
        spark, [(f"p{n}", v) for n, v in enumerate(vecs)],
        "vec_id string, embedding array<double>",
    ).repartition(1)  # not folded into a LocalRelation by the optimizer
    probe = [0.5, -0.25, 0.0]
    if quant == "int8":
        hits = ann.int8_rescore_topk(corpus, probe, k=1, oversample=1)
    else:
        hits = ann.bq_hamming_topk(corpus, probe, k=1, oversample=1, dims=None)
    plan = hits._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in plan, plan
    code = {"int8": "[64,-32,0]", "binary": "[1]"}[quant]
    assert code in plan, plan
    assert [r["vec_id"] for r in hits.collect()] == ["p0"]
