"""Vector kernels as Catalyst expressions (+ pandas_udf alternates).

Reference semantics re-expressed (file:line into /root/reference):
- L2 normalize:  ``x / max(||x||_2, 1e-12)`` row-wise
  (src/core/gpu_optimizer.py:81-124, batch CuPy kernel w/ NumPy fallback).
- Cosine similarity of pre-normalized vectors == dot product
  (src/core/gpu_optimizer.py:126-174, ``cp.dot(candidates, query)``).

Implementation choice: Catalyst higher-order functions (``zip_with`` +
``aggregate``) keep the arithmetic JVM-side inside whole-stage codegen — the
Spark analogue of the reference's batched GPU kernel.  Accumulation is in
DOUBLE with a deterministic left-fold, which matches DuckDB's sequential
``list_dot_product`` bit-for-bit, so oracle hashes line up without fuzz.

A vectorized ``pandas_udf`` (Arrow batch → NumPy matrix math) is provided as
the alternate physical strategy for very wide vectors (the reference's 512-d
case) where one BLAS matmul beats codegen'd per-element folds; `bench.py`
compares both.  Same semantics, same results.
"""

from __future__ import annotations

import json
import math
import struct
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType


def _c(col: str | Column) -> str:
    """Column reference → SQL fragment (expects a name when given a string)."""
    if isinstance(col, Column):
        raise TypeError("expression builders take SQL fragments/column names")
    return col


def dot_sql(a: str, b: str) -> str:
    """Deterministic left-fold dot product in DOUBLE (matches DuckDB)."""
    return (
        f"aggregate(zip_with({_c(a)}, {_c(b)}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def cosine_sql(a: str, b: str, b_norm: str | None = None) -> str:
    """Full cosine (normalizes both sides; safe for un-normalized input).

    ``b_norm`` replaces ``norm_sql(b)`` with a SQL fragment of the same
    value: ``probe_norm_sql`` of a single driver-held probe, so its norm
    is one literal instead of a fold over the probe on every row (lambda
    functions block constant folding)."""
    nb = norm_sql(b) if b_norm is None else b_norm
    return f"({dot_sql(a, b)} / (greatest({norm_sql(a)}, 1e-12) * greatest({nb}, 1e-12)))"


def probe_norm_sql(vec: Sequence[float]) -> str:
    """``norm_sql`` of one driver-held vector, evaluated on the driver and
    spelled as a DOUBLE literal for ``cosine_sql(..., b_norm=...)``.

    The twin is the same left fold of ``x * x`` in float64 from 0.0, then
    a correctly rounded ``sqrt`` (Java's and C's both are), so the value
    is bit-equal to Spark's.  ``repr`` is the shortest spelling that
    parses back to the same double, and the ``D`` suffix makes Spark parse
    it as a DOUBLE (not a DECIMAL); the norm is never negative, and NaN
    and +inf are spelled as casts.  Pinned against Spark in
    tests/test_probe_norm.py."""
    acc = 0.0
    for x in vec:
        x = float(x)
        acc += x * x
    n = math.sqrt(acc)
    if math.isnan(n):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(n):
        return "CAST('Infinity' AS DOUBLE)"
    return f"{n!r}D"


def l2_normalize_sql(a: str) -> str:
    """transform(e, x -> x / max(||e||, 1e-12)) — gpu_optimizer.py:96-106 math."""
    return f"transform({_c(a)}, x -> CAST(x AS DOUBLE) / greatest({norm_sql(a)}, 1e-12))"


def l1_distance_sql(a: str, b: str) -> str:
    """Manhattan (L1) distance as a deterministic left-fold in DOUBLE.

    Qdrant's ``Distance.MANHATTAN`` (public metric enum; the reference
    pins COSINE, qdrant_client.py:105 — this is surface generality).
    The seeded fold ``((0+d1)+d2)+…`` is bit-equal to DuckDB's unseeded
    ``list_reduce`` left fold because ``0.0 + x == x`` exactly in
    IEEE-754, so oracle hashes line up without fuzz."""
    return (
        f"aggregate(zip_with({_c(a)}, {_c(b)}, "
        f"(x, y) -> abs(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def l2_distance_sql(a: str, b: str) -> str:
    """Euclidean (L2) distance — Qdrant's ``Distance.EUCLID``; same
    deterministic-fold discipline as ``l1_distance_sql``."""
    return (
        f"sqrt(aggregate(zip_with({_c(a)}, {_c(b)}, "
        f"(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )


def probe_literal(vec: Sequence[float]) -> Column:
    """One driver-held vector as an ``array<double>`` Column the optimizer
    folds to a single ``Literal``: the values travel as one JSON string
    (one py4j call, where ``F.lit(list)`` makes one per element) and
    ``from_json`` of a literal is constant-folded before planning.

    ``json.dumps`` writes each float's shortest round-trip repr (and
    ``NaN``/``Infinity``, which ``from_json`` reads), and the JVM parses
    the text correctly rounded, so every value arrives bit for bit —
    -0.0, subnormals and ±1e308 included.  A NaN's sign and payload have
    no JSON spelling, so a vector whose text does not read back to the
    same bits raises instead of being altered (pinned in
    tests/test_probe_literal.py)."""
    values = [float(x) for x in vec]
    text = json.dumps(values)
    back = json.loads(text)
    for i, (a, b) in enumerate(zip(values, back)):
        if struct.pack("<d", a) != struct.pack("<d", b):
            raise ValueError(
                f"probe element {i} ({struct.pack('>d', a).hex()}) has no "
                "exact JSON spelling (a NaN with a sign or payload)"
            )
    return F.from_json(F.lit(text), "array<double>")


def dot(a: str, b: str) -> Column:
    return F.expr(dot_sql(a, b))


def cosine(a: str, b: str) -> Column:
    return F.expr(cosine_sql(a, b))


def l2_normalize(a: str) -> Column:
    return F.expr(l2_normalize_sql(a))


def norm(a: str) -> Column:
    return F.expr(norm_sql(a))


# ---------------------------------------------------------------------------
# pandas_udf alternates: Arrow batch in → one NumPy op → Arrow batch out.
# The scale rationale: at D≳256 the Arrow round-trip is amortized by BLAS;
# at the fixtures' D=64 codegen wins (see bench.py vector_kernel section).
# ---------------------------------------------------------------------------

@F.pandas_udf(DoubleType())
def dot_pudf(a: pd.Series, b: pd.Series) -> pd.Series:
    import numpy as np

    A = np.asarray(a.tolist(), dtype=np.float64)
    B = np.asarray(b.tolist(), dtype=np.float64)
    if len(A) == 0:
        return pd.Series([], dtype=float)
    return pd.Series((A * B).sum(axis=1))


@F.pandas_udf(DoubleType())
def cosine_pudf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Full cosine, BIT-equal to ``cosine_sql``: accumulates dimension-at-
    a-time (the vectorized form of the Catalyst sequential fold — NumPy's
    own .sum() uses unrolled multi-accumulator reduction, which differs in
    the last ulp), then the identical guarded division.  Asserted equal in
    tests/test_kernels.py."""
    import numpy as np

    A = np.asarray(a.tolist(), dtype=np.float64)
    B = np.asarray(b.tolist(), dtype=np.float64)
    if len(A) == 0:
        return pd.Series([], dtype=float)
    dot = np.zeros(A.shape[0], dtype=np.float64)
    na = np.zeros(A.shape[0], dtype=np.float64)
    nb = np.zeros(A.shape[0], dtype=np.float64)
    for i in range(A.shape[1]):
        dot += A[:, i] * B[:, i]
        na += A[:, i] * A[:, i]
        nb += B[:, i] * B[:, i]
    na = np.maximum(np.sqrt(na), 1e-12)
    nb = np.maximum(np.sqrt(nb), 1e-12)
    return pd.Series(dot / (na * nb))


@F.pandas_udf(ArrayType(DoubleType(), containsNull=False))
def l2_normalize_pudf(a: pd.Series) -> pd.Series:
    import numpy as np

    if len(a) == 0:
        return pd.Series([], dtype=object)
    A = np.asarray(a.tolist(), dtype=np.float64)
    n = np.linalg.norm(A, axis=1, keepdims=True)
    out = A / np.maximum(n, 1e-12)
    return pd.Series(list(out))


def register_sql_functions(spark: SparkSession) -> None:
    """Expose the kernels to the SQL surface (SURVEY §4: parity of SQL and
    DataFrame front-ends; the reference exposes them as HTTP verbs)."""
    spark.udf.register("dot_pudf", dot_pudf)
    spark.udf.register("l2_normalize_pudf", l2_normalize_pudf)
