"""Vector math as native Spark SQL expressions (JVM-side, codegen'd).

These are the distance semantics of the reference engine re-expressed
as Catalyst expressions instead of FAISS calls:

- ``l2sq``  — exact squared Euclidean distance, the reference's ranking
  metric (faiss.IndexFlatL2; reference shard/shard_node.py:46,127).
- ``l2_normalize`` — the reference's LSH preprocessing with its
  zero-norm guard (reference sharding/lsh_sharding.py:49-53).
- ``cosine_sim``/``cosine_dist`` — the metric the reference *declares*
  in config but never wires up (config/shard_node.yaml:2-6); we support
  it for real.

All functions accept a Column or a column name, cast to array<double>
first (float32 storage, float64 math — matches numpy/DuckDB widening),
and stay inside whole-stage codegen: no Python UDFs in the hot path.
For very wide vectors a vectorized Arrow path may win; see
operators/knn.py which offers a mapInPandas top-k for the scan-heavy
case. Its in-task re-score uses the numpy twins at the end of this
module (``np_l2sq``/``np_cosine_dist``), which repeat these folds
operation for operation, so both give the same bits.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _d(col: Column | str) -> Column:
    """Cast an array<float> column to array<double> for stable math."""
    return _c(col).cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Inner product Σ a_i·b_i (sequential left-to-right double sum)."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def l2sq(a: Column | str, b: Column | str) -> Column:
    """Exact squared-L2 distance Σ (a_i-b_i)^2 — FlatL2 semantics."""
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def l2(a: Column | str, b: Column | str) -> Column:
    """Euclidean distance."""
    return F.sqrt(l2sq(a, b))


def l2_norm(a: Column | str) -> Column:
    """||a||_2."""
    return F.sqrt(dot(a, a))


def l2_normalize(a: Column | str) -> Column:
    """a / ||a||, with the reference's zero-norm guard (zero vector
    stays zero rather than NaN; reference sharding/lsh_sharding.py:50-53)."""
    n = l2_norm(a)
    safe = F.when(n == 0.0, F.lit(1.0)).otherwise(n)
    return F.transform(_d(a), lambda x: x / safe)


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity with zero-norm guard (0 if either side is 0)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def cosine_dist(a: Column | str, b: Column | str) -> Column:
    """1 - cosine similarity (ascending = most similar, like L2^2)."""
    return F.lit(1.0) - cosine_sim(a, b)


# ---------------------------------------------------------------------------
# DuckDB oracle SQL fragments — the same math in DuckDB's dialect, used
# by __spark_entry__.oracle_sql() so both engines compute identically
# shaped expressions (double widening, sequential sums).
# ---------------------------------------------------------------------------

def duckdb_dot(a: str, b: str) -> str:
    return f"list_dot_product(({a})::DOUBLE[], ({b})::DOUBLE[])"


def duckdb_l2sq(a: str, b: str) -> str:
    # |a|^2 + |b|^2 - 2<a,b> would be algebraically equal but numerically
    # farther from Spark's direct sum; index-lambda keeps element order.
    # Explicit multiply, not `^ 2`: libm pow has no exactness guarantee
    # for integer exponents, Spark's side multiplies.
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> ((({a})::DOUBLE[])[i] - (({b})::DOUBLE[])[i])"
        f" * ((({a})::DOUBLE[])[i] - (({b})::DOUBLE[])[i])))"
    )


def duckdb_l2_norm(a: str) -> str:
    return f"sqrt({duckdb_dot(a, a)})"


def duckdb_cosine_sim(a: str, b: str) -> str:
    den = f"({duckdb_l2_norm(a)} * {duckdb_l2_norm(b)})"
    return f"(CASE WHEN {den} = 0 THEN 0.0 ELSE {duckdb_dot(a, b)} / {den} END)"


def duckdb_cosine_dist(a: str, b: str) -> str:
    return f"(1.0 - {duckdb_cosine_sim(a, b)})"


# ---------------------------------------------------------------------------
# numpy twins — the Spark folds above over paired float64 rows (row i of
# ``a`` against row i of ``b``), in the same operation order, so each
# value is bit-identical to the Spark expression on the same inputs.
# operators/knn.py re-scores its scan slates with them.
# ---------------------------------------------------------------------------

def _np_fold(t: np.ndarray) -> np.ndarray:
    """Row sums of ``t`` added left to right from 0.0, the order of
    ``aggregate(..., 0.0, (s, x) -> s + x)``. ``add.accumulate`` is
    strictly sequential but seeds with the first term, not 0.0; that
    differs only when every term so far is -0.0, and the final
    ``+ 0.0`` turns that -0.0 into the fold's 0.0."""
    if t.shape[1] == 0:
        return np.zeros(len(t))
    return np.add.accumulate(t, axis=1)[:, -1] + 0.0


def np_l2sq(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """:func:`l2sq` per row pair."""
    d = a - b
    return _np_fold(d * d)


def np_cosine_dist(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """:func:`cosine_dist` per row pair: the same sqrt, multiply,
    divide, zero-norm guard and ``1 - sim``."""
    denom = np.sqrt(_np_fold(a * a)) * np.sqrt(_np_fold(b * b))
    sim = np.divide(_np_fold(a * b), denom, out=np.zeros(len(denom)), where=denom != 0.0)
    return 1.0 - sim
