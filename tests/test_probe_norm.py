"""The driver twin of a single probe's cosine norm equals Spark's (hypothesis).

A single-probe search scores ``cosine_sql(embedding, q_emb, b_norm)`` with
the probe's norm folded to a literal computed on the driver
(``functions.vector.probe_norm_sql``), where the frame form folds
``norm_sql(q_emb)`` on every row.  Random vectors, with -0.0, subnormals,
values whose squares overflow to inf (alone and beside their negatives)
and the non-finite values ``probe_literal`` admits (±inf and the
canonical NaN) mixed in, must give the same norm bits on both sides, and
the same cosine score bits against every other vector of the example.
"""

from __future__ import annotations

import math
import struct

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from robi_biometric_qdrant_vector_db_service_spark.functions.vector import (
    cosine_sql,
    norm_sql,
    probe_literal,
    probe_norm_sql,
)
from robi_biometric_qdrant_vector_db_service_spark.session import local_frame

SPECIALS = [
    -0.0,
    0.0,
    5e-324,
    -5e-324,
    2.2250738585072009e-308,  # largest subnormal
    1e-160,  # its square is subnormal
    1.0,
    -1.0,
    1e154,  # its square is finite, two of them still are
    1.4e154,  # its square is finite, two of them overflow
    1e200,  # its square overflows to inf
    -1.7976931348623157e308,
    math.inf,
    -math.inf,
    math.nan,
]
_elements = st.one_of(
    st.floats(allow_nan=True, allow_infinity=True, allow_subnormal=True).map(
        lambda x: math.nan if math.isnan(x) else x  # the NaN JSON can spell
    ),
    st.floats(min_value=-1.0, max_value=1.0),
    st.sampled_from(SPECIALS),
)
_vectors = st.lists(st.lists(_elements, max_size=40), min_size=1, max_size=5)


def _bits(x: float | None) -> bytes | str | None:
    """NaN as one value (Spark may canonicalize its bits); NULL (vectors
    of different lengths) as None."""
    if x is None:
        return None
    return "nan" if math.isnan(x) else struct.pack("<d", x)


@settings(max_examples=40, deadline=None)
@given(_vectors)
# a 512-dim vector whose squares sum to different bits in another order
@example([[math.sin(i) for i in range(1, 513)], SPECIALS, [], [-0.0] * 3])
@example([[1e200, -1e200], [5e-324] * 4, [0.6, -0.8]])
def test_probe_norm_equals_spark(spark, vecs):
    for v in vecs:
        probe_literal(v)  # the twin only ever sees admitted probes
    frame = local_frame(spark, list(enumerate(vecs)), "i int, v array<double>")
    scored = frame.withColumns(
        {f"v_{j}": probe_literal(v) for j, v in enumerate(vecs)}
    ).select(
        "i",
        F.expr(norm_sql("v")).alias("norm"),
        *(F.expr(probe_norm_sql(v)).alias(f"n{j}") for j, v in enumerate(vecs)),
        *(
            F.expr(cosine_sql("v", f"v_{j}", b_norm)).alias(name)
            for j, v in enumerate(vecs)
            for name, b_norm in ((f"folded{j}", probe_norm_sql(v)), (f"full{j}", None))
        ),
    )
    rows = {r["i"]: r for r in scored.collect()}
    for i, v in enumerate(vecs):
        # the literal's spelling reads back as Spark's own fold of v
        assert _bits(rows[i][f"n{i}"]) == _bits(rows[i]["norm"]), v
        for j in range(len(vecs)):
            folded, full = rows[i][f"folded{j}"], rows[i][f"full{j}"]
            assert _bits(folded) == _bits(full), (v, vecs[j])
