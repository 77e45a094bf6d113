"""Seeded sign-random-projection LSH for shard assignment + pruning.

Re-implements the reference's LSH sharding semantics
(sharding/lsh_sharding.py) with two deliberate deviations documented in
SURVEY §4:

- **Seeded determinism.** The reference fits sklearn
  GaussianRandomProjection on *unseeded* random data
  (lsh_sharding.py:20-28) — bucket assignments change every process
  start. We draw the projection matrix from a fixed
  ``numpy.random.RandomState(seed)`` so bucketing is reproducible,
  golden-testable, and consistent between ingest and query time.
- **Corrected multi-probe.** The reference's bit-flip probe indexes a
  per-table 4-element distance array with a global index, so
  ``table_idx`` is always 0 and only table 0's bits ever flip
  (lsh_sharding.py:118-136). We flip the *globally* closest-to-boundary
  bits, one at a time, which is what the code plainly intended.

Bucket formula (kept bit-for-bit from the reference,
lsh_sharding.py:76-96):

    bits  = [dot(v, p_j) > 0  for j in 0..(fns*tables-1)]
    shard = (Σ bits_j · 2^j) mod num_tables

Sign bits are invariant under positive scaling, so the reference's
L2-pre-normalization (lsh_sharding.py:49-53) cannot change any bucket;
we skip it in the hashed expression (the zero-vector guard is also a
no-op for signs: a zero vector has all dots == 0 → all bits 0 either
way).

Spark-side evaluation is a scalar ``pandas_udf`` (Arrow batches, one
float64 BLAS matmul per batch — the analog of the reference's
vectorized ``batch_get_shard_ids``, lsh_sharding.py:163-190); batch
writes, Structured Streaming ingest and ``assign`` all use it. A pure
Catalyst-expression variant (``bucket_expr``) and a Spark SQL string
(``bucket_sql_spark``, behind the ``lsh_bucket`` SQL function) run
without Python workers, and a DuckDB dialect generator embeds the same
projection constants for oracle checks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

DEFAULT_DIM = 64
DEFAULT_NUM_FNS = 4  # reference config/coordinator.yaml:17 (num_hash_functions)
DEFAULT_NUM_TABLES = 3  # reference config/coordinator.yaml:18 (num_hash_tables)
DEFAULT_SEED = 42


class SignLSH:
    """Seeded sign-LSH: projections, bucket ids, multi-probe candidates."""

    def __init__(
        self,
        dim: int = DEFAULT_DIM,
        num_fns: int = DEFAULT_NUM_FNS,
        num_tables: int = DEFAULT_NUM_TABLES,
        seed: int = DEFAULT_SEED,
    ):
        self.dim = dim
        self.num_fns = num_fns
        self.num_tables = num_tables
        self.seed = seed
        self.num_bits = num_fns * num_tables
        rng = np.random.RandomState(seed)
        # (dim, num_bits) float64 — columns are hyperplane normals
        self.projections = rng.standard_normal((dim, self.num_bits))
        self._weights = (2 ** np.arange(self.num_bits)).astype(np.int64)

    # -- driver-side (numpy) ------------------------------------------------

    def bucket_of(self, vectors: np.ndarray) -> np.ndarray:
        """Bucket ids for an (n, dim) float array."""
        v = np.asarray(vectors, dtype=np.float64)
        if v.ndim == 1:
            v = v[None, :]
        bits = (v @ self.projections) > 0
        return (bits.astype(np.int64) @ self._weights) % self.num_tables

    def candidate_shards(self, query_vector, num_candidates: int = 2) -> list[int]:
        """Primary bucket + buckets reached by flipping the bits nearest
        their decision boundary (corrected multi-probe), topped up
        sequentially like the reference (lsh_sharding.py:152-157)."""
        num_candidates = min(max(int(num_candidates), 1), self.num_tables)
        v = np.asarray(list(query_vector), dtype=np.float64)
        proj = v @ self.projections  # (num_bits,)
        bits = (proj > 0).astype(np.int64)
        primary = int((bits @ self._weights) % self.num_tables)
        candidates: list[int] = [primary]
        for bit_idx in np.argsort(np.abs(proj)):  # closest boundary first
            if len(candidates) >= num_candidates:
                break
            flipped = bits.copy()
            flipped[bit_idx] = 1 - flipped[bit_idx]
            s = int((flipped @ self._weights) % self.num_tables)
            if s not in candidates:
                candidates.append(s)
        for s in range(self.num_tables):  # sequential fill
            if len(candidates) >= num_candidates:
                break
            if s not in candidates:
                candidates.append(s)
        return candidates[:num_candidates]

    # -- Spark-side ---------------------------------------------------------

    def bucket_udf(self):
        """Vectorized pandas_udf: array<float> column → int shard_id."""
        P = self.projections
        W = self._weights
        T = self.num_tables

        @pandas_udf("int")
        def lsh_bucket(vecs: pd.Series) -> pd.Series:
            lens = vecs.map(len)
            if (lens != P.shape[0]).any():
                bad = sorted(set(lens[lens != P.shape[0]]))
                raise ValueError(
                    f"vector dimension mismatch: expected {P.shape[0]}, got {bad}"
                )
            X = np.array(list(vecs.values), dtype=np.float64)
            bits = (X @ P) > 0
            return pd.Series((bits.astype(np.int64) @ W) % T, dtype="int32")

        return lsh_bucket

    def assign(self, df: DataFrame, vec_col: str = "embedding", out: str = "shard_id") -> DataFrame:
        """Add the shard_id column (reference batch_get_shard_ids).

        The UDF is marked nondeterministic so Catalyst evaluates it once
        per row: a deterministic one is copied into any filter on
        ``out`` pushed below this projection (``knn_pruned``'s shard
        ``IN``), which runs the Python UDF a second time. Catalyst then
        pushes no filter through this projection, so filter other
        columns before ``assign``, not after."""
        return df.withColumn(out, self.bucket_udf().asNondeterministic()(F.col(vec_col)))

    def bucket_expr(self, vec_col: Column | str) -> Column:
        """Pure Catalyst expression variant (no Python worker); same
        formula, codegen'd. The package's ingest paths (``assign``,
        ``stream_ingest_vectors``) use the pandas UDF instead; this
        serves callers that cannot start Python workers."""
        c = (F.col(vec_col) if isinstance(vec_col, str) else vec_col).cast("array<double>")
        acc = F.lit(0).cast("long")
        for j in range(self.num_bits):
            plane = F.array(*[F.lit(float(x)) for x in self.projections[:, j]])
            d = F.aggregate(F.zip_with(c, plane, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
            acc = acc + F.when(d > 0, F.lit(int(2**j))).otherwise(F.lit(0))
        return (acc % self.num_tables).cast("int")

    def bucket_sql_spark(self, vec_expr: str = "embedding") -> str:
        """The bucket computation as a Spark SQL expression string with
        the seeded projection constants inlined — used to register the
        ``lsh_bucket`` SQL scalar function (functions/register.py), so
        SQL callers bucket identically to the DataFrame API."""
        terms = []
        for j in range(self.num_bits):
            consts = ", ".join(repr(float(x)) for x in self.projections[:, j])
            dot = (
                f"aggregate(zip_with(cast({vec_expr} as array<double>), array({consts}), "
                f"(x, y) -> x * y), cast(0.0 as double), (s, x) -> s + x)"
            )
            terms.append(f"(CASE WHEN {dot} > 0 THEN {2**j}L ELSE 0L END)")
        return f"cast((({' + '.join(terms)}) % {self.num_tables}) as int)"

    # -- DuckDB oracle dialect ---------------------------------------------

    def bucket_sql_duckdb(self, vec_expr: str = "embedding") -> str:
        """The identical bucket computation as a DuckDB SQL expression,
        with the seeded projection constants inlined (for oracle_sql)."""
        terms = []
        for j in range(self.num_bits):
            consts = ", ".join(repr(float(x)) for x in self.projections[:, j])
            dot = f"list_dot_product(({vec_expr})::DOUBLE[], [{consts}])"
            terms.append(f"(CASE WHEN {dot} > 0 THEN {2**j} ELSE 0 END)")
        return f"(({' + '.join(terms)}) % {self.num_tables})"
