"""``functions.vector.probe_literal`` carries a query vector to the JVM as
one folded ``array<double>`` literal, bit for bit (hypothesis).

Random float64 vectors, drawn with -0.0, subnormals, ±1e308, NaN and ±inf
mixed in, must collect back with the same 64 bits per element.  A NaN with
a sign or payload has no JSON spelling: building its literal raises, and no
other value is ever altered on the way.
"""

from __future__ import annotations

import math
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from robi_biometric_qdrant_vector_db_service_spark.functions.vector import (
    probe_literal,
)
from robi_biometric_qdrant_vector_db_service_spark.session import local_frame

CANONICAL_NAN = struct.pack("<d", float("nan"))
SPECIALS = [
    -0.0,
    0.0,
    5e-324,
    -5e-324,
    2.2250738585072009e-308,  # largest subnormal
    2.2250738585072014e-308,  # smallest normal
    1e308,
    -1e308,
    1.7976931348623157e308,
    math.inf,
    -math.inf,
    math.nan,
    0.1,
    1 / 3,
]
_elements = st.one_of(
    st.floats(allow_nan=True, allow_infinity=True, allow_subnormal=True),
    st.sampled_from(SPECIALS),
    # NaNs with the sign bit or a payload set
    st.integers(min_value=1, max_value=(1 << 52) - 1).flatmap(
        lambda m: st.sampled_from([0x7FF0000000000000 | m, 0xFFF0000000000000 | m])
    ).map(lambda bits: struct.unpack("<d", struct.pack("<Q", bits))[0]),
)


def _bits(values) -> list[bytes]:
    return [struct.pack("<d", v) for v in values]


def _collected(spark, vec):
    one = local_frame(spark, [(0,)], "x int")
    return one.select(probe_literal(vec).alias("v")).collect()[0]["v"]


@settings(max_examples=40, deadline=None)
@given(vec=st.lists(_elements, min_size=0, max_size=40))
def test_probe_literal_round_trips_bit_for_bit(spark, vec):
    odd_nan = [
        v for v in vec if math.isnan(v) and struct.pack("<d", v) != CANONICAL_NAN
    ]
    if odd_nan:
        with pytest.raises(ValueError, match="no exact JSON spelling"):
            probe_literal(vec)
        return
    assert _bits(_collected(spark, vec)) == _bits(vec)


def test_probe_literal_folds_to_one_literal(spark):
    """The optimizer evaluates ``from_json`` once: the optimized plan
    holds the array as a literal (planning only, no job runs)."""
    vec = [0.25, -0.0, 1e308, math.nan]
    plan = spark.range(1).select(probe_literal(vec).alias("v"))._jdf.queryExecution()
    optimized = plan.optimizedPlan().toString()
    assert "from_json" not in optimized, optimized
    assert "[0.25,-0.0,1.0E308,NaN]" in optimized, optimized
