"""Driver-side k-means on a bounded sample — the one trainer behind IVF
cells, SemDeDup clusters and PQ codebooks.

FAISS trains coarse quantizers and PQ codebooks the same way (Johnson,
Douze, Jégou, "Billion-scale similarity search with GPUs", 2017):
plain Lloyd iterations on a bounded subsample, then one assignment
pass over the corpus. The centroids are KBs, so the only Spark work is
the sample collect and the assignment pass.

- :func:`train_sample` — a deterministic, bounded, md5-ordered sample
  collected through Arrow as one float64 matrix.
- :func:`lloyd` — seeded Lloyd k-means in numpy.
- :func:`nearest_cells` — the nearest-centroid argmin (norm-identity
  GEMM); :func:`nearest_cells_udf` runs it per Arrow batch in Spark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Bounded driver-side training sample (vectors, not bytes): 64k × 512-D
# float64 is 256 MB — safe; the sample is taken with a deterministic
# content hash so training is reproducible across runs/cluster sizes.
DEFAULT_TRAIN_SAMPLE = 65_536


def train_sample(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int = DEFAULT_TRAIN_SAMPLE,
    extra_cols: tuple = (),
    n: int | None = None,
) -> tuple[np.ndarray, dict]:
    """The ``sample`` rows of ``df`` with the smallest md5 of ``id_col``,
    as an (s, dim) float64 matrix in md5 order, plus each of
    ``extra_cols`` as a numpy array (name → values, same order).

    The sample is selected and *ordered* by a content-independent hash
    of the id (the same engine-portable trick as the catalog's hash
    sampling), so whatever is trained on it is reproducible across
    runs, partitionings, and cluster sizes. A naive
    ``orderBy(hash).limit(s)`` makes every partition feed ``s`` rows
    into the driver's TakeOrdered merge (measured 116 s at 500k×64-D);
    the hash *threshold* prefilter below keeps only ~1.3·s rows before
    the sort, so the merge cost is O(s) regardless of corpus size (1.5 s
    on the same corpus). ``n`` is ``df``'s row count when the caller
    already knows it (saves a count job).

    The rows arrive as one Arrow table whose list column is flattened
    into the matrix (4096×512: 0.01 s, against 1.05 s through ``Row``
    objects). Raises ``ValueError`` on an empty input, a null or ragged
    vector, or a NaN/±inf/null component — no centroid is defined over
    such a sample."""
    s = int(sample)
    md5 = F.md5(F.col(id_col).cast("string"))
    cand = df.select(
        F.col(vec_col),
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("bigint").alias("_h"),
        md5.alias("_md5"),
        *[F.col(c) for c in extra_cols],
    )
    n = df.count() if n is None else int(n)
    if n > 1.5 * s:
        # keep rows whose 32-bit hash prefix falls under the sample
        # fraction (with 1.3 slack for binomial jitter); the top-s by
        # hash of the survivors equals the top-s by hash of the corpus
        cut = int(min(1.0, 1.3 * s / n) * (16**8))
        cand = cand.filter(F.col("_h") < cut)
    # order by the full digest: the 32-bit prefix alone collides at
    # birthday rates over a 64k sample, which would leave the order
    # partition-dependent within tied prefixes
    tbl = cand.orderBy("_md5").limit(s).select(vec_col, *extra_cols).toArrow()
    vecs = tbl.column(vec_col).combine_chunks()
    if len(vecs) == 0:
        raise ValueError(f"no rows to train on in column {vec_col!r}")
    if vecs.null_count:
        raise ValueError(f"training sample has a null {vec_col!r} vector")
    lens = pc.list_value_length(vecs)
    dim = pc.min(lens).as_py()
    if dim != pc.max(lens).as_py():
        raise ValueError(f"ragged training sample: {vec_col!r} lengths differ")
    values = vecs.flatten()
    X = values.to_numpy(zero_copy_only=False).astype(np.float64).reshape(len(vecs), dim)
    if values.null_count or not np.isfinite(X).all():
        raise ValueError("training sample has a non-finite (NaN, inf or null) component")
    return X, {c: tbl.column(c).to_numpy() for c in extra_cols}


def _sq_dists(X: np.ndarray, C: np.ndarray, xn: np.ndarray | None = None) -> np.ndarray:
    """(n, k) squared L2 distances via the norm identity (one GEMM)."""
    if xn is None:
        xn = np.einsum("ij,ij->i", X, X)
    return xn[:, None] - 2.0 * (X @ C.T) + np.einsum("ij,ij->i", C, C)[None, :]


def nearest_cells(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Index of each row's nearest centroid — the one assignment rule of
    every trained cell set (build, split, append). Ties go to the lower
    index. O(n·k) memory, never O(n·k·dim)."""
    return _sq_dists(X, C).argmin(axis=1)


def nearest_cells_udf(C: np.ndarray):
    """:func:`nearest_cells` against ``C`` as an ``int`` pandas UDF over
    a vector column (one GEMM per Arrow batch)."""
    C = np.asarray(C, dtype=np.float64)

    @F.pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        X = np.array(list(vecs.values), dtype=np.float64).reshape(len(vecs), C.shape[1])
        return pd.Series(nearest_cells(X, C), dtype="int32")

    return nearest


def lloyd(X: np.ndarray, k: int, seed: int, iters: int = 20) -> np.ndarray:
    """Seeded Lloyd k-means over the rows of X: (k, dim) float64
    centroids — plain numpy, deterministic. Initial centroids are ``k``
    distinct rows drawn with ``seed``. Empty clusters are re-seeded on
    the point farthest from its centroid (standard split heuristic)."""
    rng = np.random.RandomState(seed)
    n = len(X)
    C = X[rng.choice(n, size=min(k, n), replace=False)].astype(np.float64)
    if len(C) < k:  # degenerate tiny sample: pad with repeats
        C = np.vstack([C, C[rng.choice(len(C), size=k - len(C))]])
    xn = np.einsum("ij,ij->i", X, X)
    prev = None
    for _ in range(iters):
        d = _sq_dists(X, C, xn)
        a = d.argmin(axis=1)
        if prev is not None and np.array_equal(a, prev):
            break  # converged: update would be a no-op
        prev = a
        # vectorized centroid update (bincount per dim beats a python
        # loop over k by ~20×)
        counts = np.bincount(a, minlength=k)
        sums = np.stack(
            [np.bincount(a, weights=X[:, t], minlength=k) for t in range(X.shape[1])],
            axis=1,
        )
        nonempty = counts > 0
        C[nonempty] = sums[nonempty] / counts[nonempty, None]
        n_empty = int((~nonempty).sum())
        if n_empty:
            # reseed each empty cluster on a DISTINCT farthest point —
            # seeding them all on the same point would leave duplicate
            # centroids that tie on every assignment and never separate
            # np.resize wraps when a degenerate sample has fewer points
            # than empty clusters (k > n)
            far = np.resize(np.argsort(d.min(axis=1))[::-1], n_empty)
            C[~nonempty] = X[far]
    return C
