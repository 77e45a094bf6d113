"""Property-based tests for the scan's numpy kernels in operators.knn.

- ``batch_topk``: the argpartition prefilter + boundary-tie guard is the
  subtlest numpy code in the hot path, so it gets a brute-force
  reference check under adversarial tie structure (few distinct values
  force tie groups straddling the `take` boundary, exactly the case the
  guard exists for).
- ``_slate_topk``: the raw-vector slate (BLAS values within a relative
  1e-9 of the 2k-th) re-scored and cut to k must equal brute force over
  the re-scored values, ties, masks and all.
- ``functions.vector``'s numpy folds must give Spark's ``l2sq`` /
  ``cosine_dist`` bits exactly, or the in-task re-score would drift
  from the SQL oracle.
"""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from distributedvectordatabase_spark.functions.vector import (
    cosine_dist,
    l2sq,
    np_cosine_dist,
    np_l2sq,
)
from distributedvectordatabase_spark.operators.knn import _slate_topk, batch_topk


def _reference_topk(D, ids, k):
    """Plain per-row lexsort by (value, id) — O(nc log nc), obviously
    correct."""
    out_id, out_d = [], []
    for row in D:
        order = np.lexsort((ids, row))[: min(k, len(ids))]
        out_id.append(ids[order])
        out_d.append(row[order])
    return np.array(out_id), np.array(out_d)


@settings(max_examples=200, deadline=None)
@given(
    nq=st.integers(1, 5),
    nc=st.integers(1, 40),
    k=st.integers(1, 12),
    n_values=st.integers(1, 4),  # few distinct distances → wide tie groups
    seed=st.integers(0, 2**31 - 1),
)
def test_matches_bruteforce_under_ties(nq, nc, k, n_values, seed):
    rng = np.random.default_rng(seed)
    values = rng.uniform(0.0, 4.0, size=n_values)
    D = values[rng.integers(0, n_values, size=(nq, nc))]
    ids = rng.permutation(np.arange(nc, dtype=np.int64) * 3 + 1)
    sel_id, sel_d = batch_topk(D, ids, k, take=2 * k)
    ref_id, ref_d = _reference_topk(D, ids, k)
    np.testing.assert_array_equal(sel_id, ref_id)
    np.testing.assert_array_equal(sel_d, ref_d)


@settings(max_examples=50, deadline=None)
@given(
    nc=st.integers(1, 30),
    k=st.integers(1, 10),
    seed=st.integers(0, 2**31 - 1),
)
def test_masked_inf_rows_survive(nc, k, seed):
    """+inf entries (shard-masked rows) must sort last and never panic
    the boundary-tie guard; all-inf rows yield inf distances whose ids
    are irrelevant by contract."""
    rng = np.random.default_rng(seed)
    D = rng.uniform(0.0, 1.0, size=(3, nc))
    mask = rng.random((3, nc)) < 0.5
    D[mask] = np.inf
    ids = np.arange(nc, dtype=np.int64)
    sel_id, sel_d = batch_topk(D, ids, k, take=2 * k)
    for r in range(3):
        finite_ref = np.lexsort((ids, D[r]))[: min(k, nc)]
        finite_n = int(np.isfinite(D[r]).sum())
        got_finite = sel_d[r][np.isfinite(sel_d[r])]
        want_finite = D[r][finite_ref][np.isfinite(D[r][finite_ref])]
        np.testing.assert_array_equal(got_finite, want_finite)
        # finite entries come first and are capped by what exists
        assert len(got_finite) == min(k, finite_n, nc)


@settings(max_examples=200, deadline=None)
@given(
    nq=st.integers(1, 5),
    nc=st.integers(1, 40),
    k=st.integers(1, 12),
    n_values=st.integers(1, 4),
    seed=st.integers(0, 2**31 - 1),
)
def test_slate_topk_matches_bruteforce_on_rescored_values(nq, nc, k, n_values, seed):
    """The re-scored values sit within 1e-13 (relative) of the BLAS
    ones, far inside the slate's 1e-9 widening: every row's top k by
    (re-scored value, id) over its finite entries must come back, in
    order, whatever the ties and masks."""
    rng = np.random.default_rng(seed)
    values = rng.uniform(0.0, 4.0, size=n_values)
    D = values[rng.integers(0, n_values, size=(nq, nc))]
    E = D * (1.0 + rng.uniform(-1e-13, 1e-13, size=D.shape))
    D[rng.random((nq, nc)) < 0.3] = np.inf
    ids = rng.permutation(np.arange(nc, dtype=np.int64) * 3 + 1)
    rows, cols, d = _slate_topk(D, ids, k, lambda r, c: E[r, c])
    for r in range(nq):
        fin = np.flatnonzero(np.isfinite(D[r]))
        want = fin[np.lexsort((ids[fin], E[r, fin]))][:k]
        got = cols[rows == r]
        np.testing.assert_array_equal(ids[got], ids[want])
        np.testing.assert_array_equal(d[rows == r], E[r, want])


_SPECIAL = [0.0, -0.0, 1e-45, -1e-45, 1e-40, -3e-39, 1e-18, -1e-18, 1e18, -1e18, 1.0, 1 / 3]
_F32 = st.one_of(
    st.sampled_from(_SPECIAL),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
)
_F64 = st.one_of(_F32, st.floats(-1e18, 1e18))


@settings(max_examples=25, deadline=None)
@given(
    dim=st.integers(1, 12),
    data=st.data(),
)
def test_numpy_fold_bits_equal_spark(spark, dim, data):
    """``np_l2sq``/``np_cosine_dist`` against Spark's ``l2sq`` /
    ``cosine_dist`` on the same float64 queries and float32 corpus
    rows, compared with ``float.hex``: -0.0, subnormals, ~1e±18 and
    full-range float32 magnitudes, zero-norm rows on either side and
    exact duplicates."""
    n = data.draw(st.integers(1, 6))
    row = st.lists(_F64, min_size=dim, max_size=dim)
    A = np.array(data.draw(st.lists(row, min_size=n, max_size=n)), dtype=np.float64)
    B = np.array(
        data.draw(st.lists(st.lists(_F32, min_size=dim, max_size=dim), min_size=n, max_size=n)),
        dtype=np.float32,
    )
    zero, negzero = np.zeros(dim), np.full(dim, -0.0)
    A = np.vstack([A, B[0].astype(np.float64), zero, negzero, A[0]])
    B = np.vstack([B, B[0], B[0], negzero, zero]).astype(np.float32)
    table = pa.table({
        "i": pa.array(np.arange(len(A)), pa.int64()),
        "a": pa.array([list(r) for r in A], pa.list_(pa.float64())),
        "b": pa.array([list(r) for r in B], pa.list_(pa.float32())),
    })
    got = (
        spark.createDataFrame(table)
        .select("i", l2sq("a", "b").alias("l2"), cosine_dist("a", "b").alias("cos"))
        .toPandas()
        .sort_values("i")
    )
    X = B.astype(np.float64)

    def hexes(xs):
        return [float(x).hex() for x in xs]

    assert hexes(got["l2"]) == hexes(np_l2sq(A, X))
    assert hexes(got["cos"]) == hexes(np_cosine_dist(A, X))
