"""Vector math as deterministic column expressions.

Every reduction is a strict LEFT FOLD with a 0.0 initial value
(``aggregate(..., 0.0D, (acc, v) -> acc + v)``), which DuckDB
reproduces exactly as ``list_reduce(list_prepend(0.0, ...))`` —
``0.0 + x == x`` in IEEE arithmetic, so both engines perform the
identical addition sequence and produce bit-identical doubles.
float→double casts are exact (widening), so starting from
``array<float>`` costs no precision.

No UDFs: these run inside codegen on the JVM. For very wide vectors
(≫1k dims) a Pandas-UDF BLAS path would win; at 64–1024 dims the
fold is competitive and keeps the plan whole-stage.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: str, b: str) -> Column:
    """Σ aᵢ·bᵢ as a left fold (bit-identical cross-engine)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v)"
    )


def sum_squares(a: str) -> Column:
    """Σ aᵢ² as a left fold."""
    return F.expr(
        f"aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v)"
    )


# ---- fast path: Arrow-batched, fold-order-exact -------------------
# Spark's higher-order-function lambdas are INTERPRETED (never
# whole-stage-codegen'd), so per-pair folds dominate wall clock on
# O(N·Q) similarity joins. These Pandas UDFs compute the SAME strict
# left fold — sequential over dimensions, vectorized over rows
# (`acc += A[:,j]*B[:,j]` performs the identical IEEE addition
# sequence per row) — so results stay bit-identical to the
# expression fold and to DuckDB's list_reduce, at numpy speed.


def _stack(s: pd.Series) -> np.ndarray:
    return np.vstack([np.asarray(v, dtype=np.float64) for v in s])


# pandas_udf decoration parses the return-type DDL, which needs an
# active SparkSession — so the UDFs are built lazily on first use.
_UDF_CACHE: dict = {}


def _dot_udf():
    if "dot" not in _UDF_CACHE:

        @F.pandas_udf("double")
        def _dot(xa: pd.Series, xb: pd.Series) -> pd.Series:
            if len(xa) == 0:
                return pd.Series([], dtype="float64")
            A, B = _stack(xa), _stack(xb)
            acc = np.zeros(len(A))
            for j in range(A.shape[1]):
                acc += A[:, j] * B[:, j]
            return pd.Series(acc)

        _UDF_CACHE["dot"] = _dot
    return _UDF_CACHE["dot"]


def dot_fast(a: Column | str, b: Column | str) -> Column:
    return _dot_udf()(
        F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    )


DOT_DUCK = (
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip({a}, {b}),"
    " z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), (acc, v) -> acc + v)"
)
SUM_SQUARES_DUCK = (
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform({a},"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, v) -> acc + v)"
)


def hyperplane_weights(plane: int, dims: int = 64) -> list[float]:
    """Deterministic pseudo-random hyperplane: md5-derived weights in
    {−7.5, …, +7.5} (hex nibble − 7.5; exactly representable halves,
    so the literals are identical in both engines)."""
    hexs = ""
    i = 0
    while len(hexs) < dims:
        hexs += hashlib.md5(f"plane{plane}|{i}".encode()).hexdigest()
        i += 1
    return [int(c, 16) - 7.5 for c in hexs[:dims]]


def hyperplane_sign(emb_col: str, plane: int, dims: int = 64) -> Column:
    """'1'/'0' sign bit of ⟨emb, plane⟩ (the LSH bucket bit)."""
    ws = ", ".join(f"{w}D" for w in hyperplane_weights(plane, dims))
    return F.when(
        F.expr(
            f"aggregate(zip_with({emb_col}, array({ws}),"
            " (x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"
        )
        >= 0,
        F.lit("1"),
    ).otherwise(F.lit("0"))


def hyperplane_sign_duck(emb_col: str, plane: int, dims: int = 64) -> str:
    ws = ", ".join(str(w) for w in hyperplane_weights(plane, dims))
    return (
        "CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,"
        f" list_transform(list_zip({emb_col}, [{ws}]::DOUBLE[]),"
        " z -> CAST(z[1] AS DOUBLE) * z[2])), (acc, v) -> acc + v) >= 0"
        " THEN '1' ELSE '0' END"
    )
