"""Product quantization (PQ) — vector compression + asymmetric-distance
ANN search (Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011; the technique behind FAISS IndexIVFPQ).

The reference stores raw float32 vectors in FlatL2 (shard_node.py:42-49)
— 2 KB/vector at 512-D. PQ splits each vector into ``m`` subspaces and
replaces each subvector with the id of its nearest per-subspace
centroid: ``m`` codes of ``nbits`` bits, e.g. 512-D float32 → 8 bytes
at m=8/nbits=8 (256× smaller). That compression is what makes
billion-vector search fit in memory at all — the natural next scale
step after this repo's IVF store (combine them and you have IVFPQ).

Phase split, Spark-first:

- **train** — per-subspace k-means on a bounded, deterministic
  hash-sample collected to the driver (the standard PQ recipe: FAISS
  likewise trains on a sample, not the corpus; codebooks are
  m·2^nbits·(d/m) floats — KBs). Seeded Lloyd iterations in numpy, so
  the same corpus + seed always yields the same codebooks.
- **encode** — one distributed pass: an Arrow ``mapInPandas`` batch
  argmin per subspace against the broadcast codebooks. The output
  (id, codes) table is the compressed index; the float vectors can be
  dropped or kept cold.
- **search (ADC)** — asymmetric distance: the *query* stays exact;
  per query one (m × 2^nbits) lookup table of squared distances to
  every centroid is built driver-side and broadcast, and each code
  row's distance is ``sum_j LUT[j, code_j]`` — a pure table-gather
  over the compressed corpus, no float vectors read at all. Partial
  top-k per Arrow batch before the merge exchange, on the exact kNN
  path's shared ``knn.scan_topk`` (this module supplies only the ADC
  kernel); the shuffle carries O(queries·k·partitions) rows.
  Per-row distances are fixed-order float64 sums of per-subspace
  terms, so results are independent of partitioning and batch split.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributedvectordatabase_spark.operators.kmeans import (
    DEFAULT_TRAIN_SAMPLE,
    lloyd,
    train_sample,
)
from distributedvectordatabase_spark.operators.knn import (
    QueryBatch,
    _final_topk,
    exact_rerank,
    query_batch,
    scan_topk,
)

@dataclass(frozen=True)
class PQCodebook:
    """Trained PQ codebooks: ``centroids[j]`` is the (ksub × dsub)
    codebook of subspace ``j``; dim = m · dsub, ksub = 2^nbits."""

    centroids: np.ndarray  # (m, ksub, dsub) float64
    dim: int

    @property
    def m(self) -> int:
        return self.centroids.shape[0]

    @property
    def ksub(self) -> int:
        return self.centroids.shape[1]

    @property
    def dsub(self) -> int:
        return self.centroids.shape[2]

    def split(self, X: np.ndarray) -> np.ndarray:
        """(n, dim) → (m, n, dsub) subspace view."""
        n = X.shape[0]
        return X.reshape(n, self.m, self.dsub).transpose(1, 0, 2)

    def to_dict(self) -> dict:
        """JSON-serializable form (the sidecar format used by stores)."""
        return {"dim": self.dim, "centroids": self.centroids.tolist()}

    @classmethod
    def from_dict(cls, d: dict) -> "PQCodebook":
        return cls(
            centroids=np.array(d["centroids"], dtype=np.float64), dim=int(d["dim"])
        )


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 4,
    sample: int = DEFAULT_TRAIN_SAMPLE,
    seed: int = 42,
    iters: int = 20,
    id_col: str = "vec_id",
    cell_centroids: np.ndarray | None = None,
    cell_col: str = "cell_id",
    rotation: np.ndarray | None = None,
) -> PQCodebook:
    """Train PQ codebooks on a deterministic bounded sample of ``df``.

    The sample is ``kmeans.train_sample``'s md5-ordered one, so the
    trained codebooks are reproducible across runs, partitionings, and
    cluster sizes; each subspace is fit by ``kmeans.lloyd`` with seed
    ``seed + j``. Raises if the vector dimension is not divisible by
    ``m``.

    With ``cell_centroids`` (an (n_cells, dim) array; ``cell_col``
    must hold each row's cell id), the codebooks are trained on the
    RESIDUALS ``x - centroid[cell]`` — the standard IVFPQ formulation
    (Jégou et al. §IV-A / FAISS IndexIVFPQ): residuals concentrate
    around 0 with far smaller per-cell spread than raw vectors, so the
    same code budget quantizes a smaller domain and ADC recall rises.

    With ``rotation`` (a (dim, dim) orthogonal matrix, e.g. the
    sign-canonical PCA basis from operators/opq.fit_rotation) the
    sample is rotated before k-means — OPQ-lite (Ge et al., "Optimized
    Product Quantization", CVPR 2013, the PCA-initialized variant):
    an orthogonal change of basis preserves every L2 distance exactly
    but aligns the subspace split with the data's principal axes, so
    the per-subspace quantizers stop fighting correlated coordinates.
    The same matrix must be passed to pq_encode / pq_search.
    """
    ksub = 2 ** int(nbits)
    extra = (cell_col,) if cell_centroids is not None else ()
    X, cols = train_sample(df, vec_col, id_col, sample, extra)
    if cell_centroids is not None:
        MU = np.asarray(cell_centroids, dtype=np.float64)
        X = X - MU[cols[cell_col].astype(np.int64)]
    if rotation is not None:
        X = X @ np.asarray(rotation, dtype=np.float64)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    subs = X.reshape(len(X), m, dsub).transpose(1, 0, 2)
    cents = np.stack(
        [lloyd(np.ascontiguousarray(subs[j]), ksub, seed + j, iters) for j in range(m)]
    )
    return PQCodebook(centroids=cents, dim=dim)


def pq_encode(
    df: DataFrame,
    cb: PQCodebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple = (),
    cell_centroids: np.ndarray | None = None,
    cell_col: str = "cell_id",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """Encode vectors to (id, codes[, keep_cols...]) — codes is an
    array<int> of length m with values in [0, 2^nbits). One scan, no
    shuffle: per Arrow batch, an argmin against the broadcast codebooks
    per subspace. ``keep_cols`` (e.g. an IVF ``cell_id``) ride along so
    a partitioned compressed table needs no joinback.

    With ``cell_centroids`` each row's RESIDUAL ``x - centroid[cell]``
    is encoded instead of the raw vector (IVFPQ; the codebook must
    have been trained with the same centroids). ``rotation`` applies
    the OPQ-lite basis change after the residual subtract (must match
    pq_train)."""
    spark = df.sparkSession
    MU = (
        np.asarray(cell_centroids, dtype=np.float64)
        if cell_centroids is not None
        else None
    )
    R = np.asarray(rotation, dtype=np.float64) if rotation is not None else None
    bc = spark.sparkContext.broadcast((cb.centroids, MU, R))
    m, dsub = cb.m, cb.dsub
    keep = list(keep_cols)
    if MU is not None and cell_col not in keep:
        keep.append(cell_col)
    keep_schema = "".join(
        f", {c} {dict(df.dtypes)[c]}" for c in keep
    )

    def encode(batches):
        C, MU, R = bc.value  # (m, ksub, dsub), (n_cells, dim) | None, (dim, dim) | None
        cn = np.einsum("mkd,mkd->mk", C, C)  # (m, ksub)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf[vec_col].values), dtype=np.float64)
            if MU is not None:
                X = X - MU[pdf[cell_col].values.astype(np.int64)]
            if R is not None:
                X = X @ R
            S = X.reshape(len(X), m, dsub)
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                d = cn[j][None, :] - 2.0 * (S[:, j, :] @ C[j].T)
                codes[:, j] = d.argmin(axis=1)
            out = {"_id": pdf[id_col].values, "codes": list(codes)}
            for c in keep:
                out[c] = pdf[c].values
            yield pd.DataFrame(out)

    out = df.select(id_col, vec_col, *keep).mapInPandas(
        encode, schema=f"_id long, codes array<int>{keep_schema}"
    )
    out = out.withColumnRenamed("_id", id_col)
    if MU is not None and cell_col not in keep_cols:
        out = out.drop(cell_col)
    return out


def pq_reconstruction_mse(
    df: DataFrame,
    cb: PQCodebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_centroids: np.ndarray | None = None,
    cell_col: str = "cell_id",
    rotation: np.ndarray | None = None,
) -> float:
    """Mean squared reconstruction error of the codebooks over ``df`` —
    the compression-quality number to track against nbits/m choices.
    With ``cell_centroids`` the error is measured on residual encoding
    (reconstruction = centroid + decoded residual), so raw-vs-residual
    MSE is directly comparable; ``rotation`` measures in the OPQ basis
    (orthogonal, so the MSE is the original-space MSE too)."""
    spark = df.sparkSession
    MU = (
        np.asarray(cell_centroids, dtype=np.float64)
        if cell_centroids is not None
        else None
    )
    R = np.asarray(rotation, dtype=np.float64) if rotation is not None else None
    bc = spark.sparkContext.broadcast((cb.centroids, MU, R))
    m, dsub = cb.m, cb.dsub
    cols = [id_col, vec_col] + ([cell_col] if MU is not None else [])

    def err(batches):
        C, MU, R = bc.value
        cn = np.einsum("mkd,mkd->mk", C, C)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf[vec_col].values), dtype=np.float64)
            if MU is not None:
                X = X - MU[pdf[cell_col].values.astype(np.int64)]
            if R is not None:
                X = X @ R
            S = X.reshape(len(X), m, dsub)
            sq = np.zeros(len(X))
            for j in range(m):
                d = cn[j][None, :] - 2.0 * (S[:, j, :] @ C[j].T)
                codes = d.argmin(axis=1)
                r = S[:, j, :] - C[j][codes]
                sq += np.einsum("ij,ij->i", r, r)
            yield pd.DataFrame({"sq": sq, "n": [1] * len(X)})

    agg = (
        df.select(*cols)
        .mapInPandas(err, schema="sq double, n long")
        .agg(F.sum("sq").alias("s"), F.sum("n").alias("n"))
        .first()
    )
    return float(agg.s) / (agg.n * cb.dim)


def pq_search(
    codes: DataFrame,
    cb: PQCodebook,
    queries: DataFrame | QueryBatch,
    k: int = 10,
    id_col: str = "vec_id",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    rerank: int = 0,
    corpus: DataFrame | None = None,
    vec_col: str = "embedding",
    shard_col: str | None = None,
    cand_map: dict[int, frozenset] | None = None,
    cell_centroids: np.ndarray | None = None,
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """ADC top-k over the compressed (id, codes) table: approximate
    squared-L2 where each corpus vector is its PQ reconstruction.
    Returns (qid, neighbor_id, dist, rnk) like the exact kNN path —
    ``dist`` is the ADC estimate, deterministic under repartitioning
    (fixed-order per-row sum of m table entries).

    With ``rerank=R`` (and ``corpus``), the ADC pass produces an R·k
    shortlist per query whose *exact* distances are then computed by
    joining the ≤ nq·R·k winner ids back to the raw vectors — the
    FAISS refine pattern, through the shared ``knn.exact_rerank``
    that every compressed leg uses: the compressed scan does the heavy
    elimination, the float vectors are touched only for the shortlist
    (a hash/partition-prunable id probe). Measured on the 64-D
    testdata (recall@10 vs exact): m=16/nbits=6 raw 0.61 → 0.94 at
    rerank=4 / 0.99 at rerank=8; m=8/nbits=4 raw 0.31 → 0.86 at
    rerank=10 — rerank only surfaces what the ADC shortlist already
    contains, so budget and shortlist size trade against each other.

    ``queries`` is collected once and validated against the codebook
    dimension (``knn.query_batch``); a store that already collected
    the batch passes the ``QueryBatch`` itself.

    ``shard_col``/``cand_map`` apply a per-query shard mask inside the
    same ADC scan (exactly like the exact path's pruned search) —
    this is what IVFStore.knn_pq uses to compose IVF partition pruning
    with PQ compression into IVFPQ.

    With ``cell_centroids`` the codes are RESIDUAL codes (IVFPQ,
    Jégou et al. §IV-A): the estimated distance for a row in cell c is
    ``||(q - centroid_c) - recon(codes)||²``, so the lookup table is
    built per (query, probed cell) — ``(q - μ_c)`` subvector vs every
    subspace centroid — and each row gathers from its own cell's
    table. ``shard_col`` must name the cell column in ``codes``.
    """
    k = max(int(k), 1)
    if cell_centroids is not None and shard_col is None:
        raise ValueError("residual pq_search needs shard_col (the cell column)")
    if rerank and corpus is None:
        raise ValueError("rerank requires the raw-vector corpus DataFrame")
    batch = query_batch(queries, qid_col, qvec_col, cb.dim)
    Q = batch.Q
    m, dsub, ksub = cb.m, cb.dsub, cb.ksub
    C = cb.centroids
    R = np.asarray(rotation, dtype=np.float64) if rotation is not None else None
    cellpos = None
    if cell_centroids is not None:
        MU = np.asarray(cell_centroids, dtype=np.float64)
        if cand_map is not None:
            cells_used = sorted({int(c) for s in cand_map.values() for c in s})
        else:
            cells_used = list(range(len(MU)))
        lut_bytes = len(Q) * len(cells_used) * m * ksub * 8
        if lut_bytes > 1 << 30:
            raise ValueError(
                f"residual ADC LUT would be {lut_bytes >> 20} MB "
                f"({len(Q)} queries × {len(cells_used)} cells × {m}×{ksub}); "
                "lower n_probe or split the query batch"
            )
        # per-(query, probed-cell) LUTs over the residual domain:
        # lut[q, c, j, :] = ||(q - μ_c)_subj - C_j||²
        QR = Q[:, None, :] - MU[cells_used][None, :, :]  # (nq, nc, dim)
        if R is not None:
            QR = QR @ R  # OPQ basis change (orthogonal: L2-preserving)
        QS = QR.reshape(len(Q) * len(cells_used), m, dsub)
        flat = np.empty((len(QS), m, ksub))
        for j in range(m):
            flat[:, j, :] = (
                np.einsum("ij,ij->i", QS[:, j, :], QS[:, j, :])[:, None]
                - 2.0 * (QS[:, j, :] @ C[j].T)
                + np.einsum("kd,kd->k", C[j], C[j])[None, :]
            )
        lut = flat.reshape(len(Q), len(cells_used), m, ksub)
        cellpos = np.full(max(cells_used, default=-1) + 1, -1, dtype=np.int64)
        for i, c in enumerate(cells_used):
            cellpos[c] = i
    else:
        # per-query subspace LUTs: (nq, m, ksub) squared distances
        if R is not None:
            Q = Q @ R  # OPQ basis change (orthogonal: L2-preserving)
        QS = Q.reshape(len(Q), m, dsub)
        lut = np.empty((len(Q), m, ksub))
        for j in range(m):
            lut[:, j, :] = (
                np.einsum("ij,ij->i", QS[:, j, :], QS[:, j, :])[:, None]
                - 2.0 * (QS[:, j, :] @ C[j].T)
                + np.einsum("kd,kd->k", C[j], C[j])[None, :]
            )
    fetch = max(int(rerank) * k, 1) if rerank else k
    cols = ["codes"] + ([shard_col] if cellpos is not None else [])
    partial = scan_topk(
        codes, batch, fetch, _adc_kernel(shard_col), (lut, cellpos), cols, id_col,
        shard_col=shard_col, cand_map=cand_map,
    )
    short = _final_topk(partial, fetch)
    if not rerank:
        return short
    return exact_rerank(
        short.select("qid", "neighbor_id"), batch, k, "l2sq",
        corpus=corpus, id_col=id_col, vec_col=vec_col,
    )


def _adc_kernel(shard_col: str | None):
    """ADC distance kernel for ``knn.scan_topk`` (payload: the per-query
    LUTs and, for residual codes, each probed cell's LUT slot): a pure
    table-gather ``D[q, i] = sum_j lut[q, j, code[i, j]]``, clamped at
    0; in residual mode each row gathers from its own cell's table."""

    def bind(payload):
        lut, cellpos = payload
        nq, m = lut.shape[0], lut.shape[-2]

        def dist(pdf):
            cd = np.array(list(pdf["codes"].values), dtype=np.int64)  # (n, m)
            if cellpos is None:
                D = np.zeros((nq, len(cd)))
                for j in range(m):
                    D += lut[:, j, cd[:, j]]
                np.maximum(D, 0.0, out=D)
                return D, None
            # residual mode: each row gathers from ITS cell's LUT. The
            # codes table is partitionBy(cell) so a batch is almost
            # always one cell — the per-cell loop runs once.
            shards = pdf[shard_col].values.astype(np.int64)
            pos = np.full(len(shards), -1, dtype=np.int64)
            in_r = (shards >= 0) & (shards < len(cellpos))
            pos[in_r] = cellpos[shards[in_r]]
            D = np.full((nq, len(cd)), np.inf)
            for pv in np.unique(pos):
                if pv < 0:
                    continue  # cell outside the probed set
                idx = np.nonzero(pos == pv)[0]
                sub = cd[idx]
                Dsub = np.zeros((nq, len(idx)))
                for j in range(m):
                    Dsub += lut[:, pv, j, sub[:, j]]
                np.maximum(Dsub, 0.0, out=Dsub)
                D[:, idx] = Dsub
            return D, None

        return dist

    return bind
