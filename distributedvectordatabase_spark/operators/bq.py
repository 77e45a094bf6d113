"""Binary quantization (BQ) — 1-bit-per-dimension vector compression
with Hamming-distance search + exact rerank.

The rung *below* SQ8 on the compression ladder (binary 1 bit/dim →
SQ8 1 byte/dim → PQ sub-byte codebooks): each dimension keeps only its
sign, so a 64-D float64 embedding collapses from 512 bytes to 8 — a
64× scan-byte cut. The classic recipe (Charikar 2002 sign projections
applied identity-first; FAISS ``IndexBinaryFlat`` + refine): Hamming
distance between sign patterns is a monotone estimator of angular
distance, so a Hamming shortlist + exact-distance rerank recovers high
recall at a fraction of the IO. At 100 TB this is the cheapest
possible first-pass scan — the corpus never leaves packed-integer form
until the shortlist joinback.

The reference ships raw FlatL2 only (shard/shard_node.py:42-49); this
module is scale-path depth beyond it, mirroring the SQ8/PQ designs.

Spark-first — the scoring stage is Catalyst integer arithmetic with
no Python and no join node; only the encode runs numpy:

- **encode** — one scan, no shuffle: one Arrow UDF packs 32 sign bits
  into each bigint word (32, not 64, because DuckDB's checked ``<<``
  refuses to set a bigint's sign bit, and oracle parity matters more
  than halving an already-tiny code column).
- **search** — the bounded query batch is collected driver-side (the
  exact-kNN pattern, knn.py:61-79) and fanned out as a LITERAL array
  explode against ONE corpus scan — q rows per corpus row, no join
  operator at all (the plan sweep forbids cartesian/BNLJ).
  ``hamming = Σ_w bit_count(q_w XOR e_w)``; top-k in two phases: a
  per-input-partition ``row_number`` prefilter keeps k rows per
  (query, partition), so the merge exchange carries
  O(queries · k · partitions) rows — never the corpus.
- **rerank** — the R·k Hamming shortlist (tiny by construction) is
  broadcast back onto the corpus by id and rescored by the shared
  ``knn.exact_rerank``; the shortlist scan itself reads only packed
  codes.

Hamming distances are INTEGERS, so unlike every float-distance gate
there is no quantization step and no cross-engine ulp risk: the
catalog's ``knn_hamming`` gate hash-compares bit-for-bit by nature.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from distributedvectordatabase_spark.operators.knn import (
    QueryBatch,
    collect_query_batch,
    exact_rerank,
    local_query_relation,
    query_batch,
)

BITS_PER_WORD = 32


def n_words(dim: int) -> int:
    return (int(dim) + BITS_PER_WORD - 1) // BITS_PER_WORD


def _sign_words(S: np.ndarray) -> np.ndarray:
    """Pack an (n, bits) boolean matrix into (n, ceil(bits/32)) int64
    words: bit j of word w is column 32·w + j (trailing bits stay 0)."""
    n, bits = S.shape
    padded = np.zeros((n, n_words(bits) * BITS_PER_WORD), dtype=np.int64)
    padded[:, :bits] = S
    weights = np.int64(1) << np.arange(BITS_PER_WORD, dtype=np.int64)
    return padded.reshape(n, -1, BITS_PER_WORD) @ weights


def bq_encode(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    out_col: str = "bq_code",
    n_bits: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Append ``out_col: array<bigint>`` — the sign-bit pack of
    ``vec_col`` (ceil(bits/32) words, 32 bits each). No shuffle either
    way: one Arrow UDF packs each batch with numpy.

    ``n_bits=None`` (default) packs the RAW dimension signs, bit i set
    iff component i > 0 under Spark's ordering — a NaN component sets
    its own bit (NaN sorts above every number), a null component or a
    null vector leaves it 0 — exactly reproducible in the DuckDB oracle
    (the ``knn_hamming`` gate). No matmul, so a NaN stays local to its
    own bit. (A per-bit Catalyst CASE projection grew past the 64 KB
    codegen method limit at 512-D.)

    ``n_bits=B`` packs the signs of B seeded gaussian projections
    instead (sign-random-projection / SimHash for vectors, Charikar
    2002) — the scale path: identity signs give only dim+1 Hamming
    levels, so at 500k×64-D the shortlist drowns in ties (recall 0.16,
    BASELINE.md), while B=256 decouples code length from dim; one BLAS
    GEMM per batch. ``np.random.default_rng(seed)`` streams are stable
    across platforms, so codes are deterministic."""
    dim = int(dim)
    R = None
    if n_bits is not None:
        if int(n_bits) % BITS_PER_WORD:
            raise ValueError(f"n_bits must be a multiple of {BITS_PER_WORD}")
        R = np.random.default_rng(int(seed)).standard_normal((dim, int(n_bits)))

    @F.arrow_udf("array<long>")
    def _pack(vs: pa.Array) -> pa.Array:
        live = vs.is_valid().to_numpy(zero_copy_only=False)
        flat = vs.flatten()
        if len(flat) != int(live.sum()) * dim:
            raise ValueError(f"bq_encode: every vector must have {dim} components")
        X = np.zeros((len(vs), dim))
        X[live] = flat.to_numpy(zero_copy_only=False).reshape(-1, dim)
        if R is None:
            S = (X > 0) | np.isnan(X)
            S[live] &= flat.is_valid().to_numpy(zero_copy_only=False).reshape(-1, dim)
        else:
            S = (X @ R) > 0
        codes = _sign_words(S)
        offsets = pa.array(np.arange(0, codes.size + 1, codes.shape[1], dtype=np.int32))
        return pa.ListArray.from_arrays(offsets, pa.array(codes.ravel()))

    return df.withColumn(out_col, _pack(F.col(vec_col)))


def _hamming(qcode: str, code: str, words: int) -> Column:
    terms = [
        F.bit_count(
            F.element_at(F.col(qcode), w + 1).bitwiseXOR(
                F.element_at(F.col(code), w + 1)
            )
        ).cast("long")
        for w in range(words)
    ]
    return reduce(lambda x, y: x + y, terms)


def bq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "bq_code",
    qid_col: str = "qid",
    qcode_col: str = "qcode",
    shard_map: dict | None = None,
    shard_col: str = "shard_id",
) -> DataFrame:
    """Hamming top-k of every query code against the corpus codes.

    Returns (qid, neighbor_id, hamming, rnk), rnk 1..k ordered by
    (hamming, neighbor_id) — a total order, so the result is exactly
    reproducible, and integer-only: no float ever enters the plan.

    The query side is collected under the exact-kNN batch cap and
    fanned out as a literal-array explode, so the scoring stage is one
    corpus scan with zero join operators; the partial-then-final
    window pair keeps the merge exchange at O(q·k·partitions) rows.

    ``shard_map`` (qid → iterable of candidate shard ids) restricts
    each query to its own shards: the allowed set rides the literal
    struct and an ``array_contains(_q.shards, shard_col)`` filter drops
    foreign (query, row) pairs right after the fan-out — the
    VectorStore's per-query LSH masking, still join-free. Callers
    should ALSO pre-filter the corpus to the union of all shards so
    Catalyst prunes partitions."""
    k = max(int(k), 1)
    qrows = collect_query_batch(queries, qid_col, qcode_col)
    if not qrows:
        raise ValueError("bq_topk requires at least one query")
    words = len(qrows[0][1])

    def _struct(r):
        fields = [
            F.lit(int(r[0])).cast("long").alias("qid"),
            F.array(*[F.lit(int(wd)).cast("long") for wd in r[1]]).alias("qcode"),
        ]
        if shard_map is not None:
            fields.append(
                F.array(
                    *[F.lit(int(s)).cast("long") for s in sorted(shard_map[int(r[0])])]
                ).alias("shards")
            )
        return F.struct(*fields)

    qlit = F.array(*[_struct(r) for r in qrows])
    base_cols = [
        F.col(id_col).alias("neighbor_id"),
        F.col(code_col),
        F.spark_partition_id().alias("_part"),
        F.explode(qlit).alias("_q"),
    ]
    if shard_map is not None:
        base_cols.insert(2, F.col(shard_col).cast("long").alias("_shard"))
    fanned = corpus.select(*base_cols)
    if shard_map is not None:
        fanned = fanned.filter(F.array_contains(F.col("_q.shards"), F.col("_shard")))
    scored = fanned.select(
        F.col("_q.qid").alias("qid"),
        "neighbor_id",
        _hamming("_q.qcode", code_col, words).alias("hamming"),
        "_part",
    )
    pre = Window.partitionBy("qid", "_part").orderBy("hamming", "neighbor_id")
    fin = Window.partitionBy("qid").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("_pr", F.row_number().over(pre))
        .filter(F.col("_pr") <= k)
        .withColumn("rnk", F.row_number().over(fin))
        .filter(F.col("rnk") <= k)
        .select("qid", "neighbor_id", "hamming", "rnk")
    )


def bq_search(
    codes: DataFrame,
    queries: DataFrame | QueryBatch,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    rerank: int = 4,
    metric: str = "l2sq",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    n_bits: int | None = None,
    seed: int = 42,
    shard_map: dict | None = None,
    shard_col: str = "shard_id",
) -> DataFrame:
    """Top-k over a 1-bit codes table (id, ``bq_code``): Hamming
    shortlist of ``rerank·k`` candidates (:func:`bq_topk`), then
    ``knn.exact_rerank`` against the raw ``corpus``. Returns
    (qid, neighbor_id, dist, rnk) like knn().

    ``queries`` is collected once and validated against ``dim``
    (``knn.query_batch``; a store that already collected the batch
    passes the ``QueryBatch``). The query codes are encoded with the
    codes' own ``n_bits``/``seed`` from that batch as a LocalRelation,
    so the ``queries`` subplan is never re-run. ``shard_map`` is
    :func:`bq_topk`'s per-query shard (or cell) mask."""
    k = max(int(k), 1)
    batch = query_batch(queries, qid_col, qvec_col, dim)
    q = local_query_relation(codes.sparkSession, batch, "qid", "qvec")
    qcodes = bq_encode(q, dim, "qvec", out_col="qcode", n_bits=n_bits, seed=seed)
    shortlist = bq_topk(
        codes, qcodes.select("qid", "qcode"), k=max(int(rerank), 1) * k,
        id_col=id_col, shard_map=shard_map, shard_col=shard_col,
    )
    return exact_rerank(
        F.broadcast(shortlist.select("qid", "neighbor_id")), batch, k, metric,
        corpus=corpus, id_col=id_col, vec_col=vec_col,
    )


def bq_knn(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    n_bits: int | None = None,
    seed: int = 42,
    metric: str = "l2sq",
) -> DataFrame:
    """Approximate kNN: Hamming shortlist of ``rerank * k`` candidates
    per query over the 1-bit codes, then exact rerank on the raw
    vectors (the FAISS binary+refine pattern).

    Returns (qid, neighbor_id, dist, rnk) shaped like operators/knn.knn
    — the final top-k is by exact float distance, so at full rerank
    budget (rerank·k ≥ corpus) it EQUALS exact kNN in the same metric.
    The shortlist scan reads only the packed codes; raw vectors are
    touched only for the broadcast R·k joinback (:func:`bq_search`).

    ``metric`` picks the rerank distance (``"l2sq"`` | ``"cosine"``,
    the knn() metrics). Sign codes are SCALE-INVARIANT — ``sign(x@R)
    == sign((x/|x|)@R)`` — so the Hamming shortlist always estimates
    ANGULAR order and normalizing inputs before encoding is a no-op by
    construction (that is also why no norm column needs persisting).
    ``metric="cosine"`` is therefore the honest pairing: the shortlist
    and the rerank agree on what "near" means, and on L2-normalized
    embeddings it coincides with L2 order. ``l2sq`` against
    non-normalized data keeps working but pays the known recall floor
    — norms dominate L2 yet are invisible to signs (BASELINE.md
    records the measured decomposition)."""
    ccodes = bq_encode(
        corpus.select(id_col, vec_col), dim, vec_col, n_bits=n_bits, seed=seed
    )
    return bq_search(
        ccodes.select(id_col, "bq_code"), queries, corpus, dim, k=k, rerank=rerank,
        metric=metric, id_col=id_col, vec_col=vec_col, qid_col=qid_col,
        qvec_col=qvec_col, n_bits=n_bits, seed=seed,
    )
