"""Scalar quantization (SQ8) — 8-bit vector compression + asymmetric
search (the FAISS ``IndexScalarQuantizer`` QT_8bit recipe).

The reference stores raw float32 vectors in FlatL2 (shard_node.py:42-49)
— 2 KB/vector at 512-D. SQ8 keeps one byte per dimension: each dim is
affinely mapped to [0, 255] against per-dimension train bounds, for an
exact 4× cut over float32 (8× over this repo's float64 arrays) with
*much* gentler accuracy loss than PQ — there is no codebook, just a
(vmin, vmax) pair per dimension, so encode/decode are pure elementwise
arithmetic and the compressed scan stays BLAS-shaped. It is the
standard first rung on the compression ladder (SQ8 → PQ → IVFPQ);
at 100 TB it turns the corpus scan into a quarter of the bytes for
~free, which is why FAISS defaults many billion-scale recipes to
SQ8 refine stages.

Phase split, Spark-first (mirrors operators/pq.py):

- **train** — exact per-dimension min/max over the corpus: one
  distributed scan with per-Arrow-batch partial reductions
  (``mapInPandas`` emitting one (min[], max[]) row per batch) and a
  driver-side fold of the ≤ #batches tiny partials. No sampling
  needed — min/max is associative, so the pass is exact at any scale
  and shuffles nothing.
- **encode** — one scan, no shuffle: ``code = clip(floor((x - vmin) /
  Δ), 0, 255)`` with ``Δ = (vmax - vmin)/256``; the byte rows are
  emitted as a ``binary`` column (d bytes per vector — parquet stores
  it raw, no per-element array overhead).
- **search** — asymmetric: the query stays exact; each batch decodes
  its codes to the reconstruction ``x̂ = vmin + (code + 0.5)·Δ``
  (midpoint decode — unbiased within a cell) and computes squared-L2
  via one BLAS matmul. Partial top-k per batch before the merge
  exchange, exactly like the exact-kNN path — the shuffle carries
  O(queries·k·partitions) rows, never the corpus. ``rerank=R`` joins
  the R·k shortlist back to the raw vectors for exact rescoring (the
  FAISS refine pattern, same joinback shape as pq_search).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from distributedvectordatabase_spark.operators.knn import (
    QueryBatch,
    _final_topk,
    exact_rerank,
    query_batch,
    scan_topk,
)


@dataclass(frozen=True)
class SQParams:
    """Trained SQ8 bounds: per-dimension [vmin, vmax] training range.
    ``delta`` is the cell width; a constant dimension (vmax == vmin)
    gets delta 0 and always decodes to vmin exactly."""

    vmin: np.ndarray  # (d,) float64
    vmax: np.ndarray  # (d,) float64

    @property
    def dim(self) -> int:
        return int(self.vmin.shape[0])

    @property
    def delta(self) -> np.ndarray:
        return (self.vmax - self.vmin) / 256.0

    def to_dict(self) -> dict:
        """JSON-serializable form (the sidecar format used by stores)."""
        return {"vmin": self.vmin.tolist(), "vmax": self.vmax.tolist()}

    @classmethod
    def from_dict(cls, d: dict) -> "SQParams":
        return cls(
            vmin=np.array(d["vmin"], dtype=np.float64),
            vmax=np.array(d["vmax"], dtype=np.float64),
        )

    def encode_np(self, X: np.ndarray) -> np.ndarray:
        """(n, d) float → (n, d) uint8 codes (clipped to the train
        range; out-of-range values saturate at 0/255)."""
        delta = self.delta
        safe = np.where(delta > 0, delta, 1.0)
        q = np.floor((X - self.vmin[None, :]) / safe[None, :])
        return np.clip(q, 0, 255).astype(np.uint8)

    def decode_np(self, codes: np.ndarray) -> np.ndarray:
        """(n, d) uint8 → (n, d) float64 midpoint reconstructions."""
        return self.vmin[None, :] + (codes.astype(np.float64) + 0.5) * self.delta[None, :]


def sq_train(df: DataFrame, vec_col: str = "embedding") -> SQParams:
    """Exact per-dimension min/max over the corpus in one scan.

    Each Arrow batch reduces to a single (min[], max[]) row; the
    collected partials number at most the scan's batch count (a few
    per partition), so the driver fold is O(partitions · d) — KBs —
    while the corpus itself is never collected. Min/max is
    associative and commutative, so the result is exact and
    partitioning-independent at any scale."""

    def partial(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf[vec_col].values), dtype=np.float64)
            yield pd.DataFrame(
                {"mn": [X.min(axis=0).tolist()], "mx": [X.max(axis=0).tolist()]}
            )

    rows = (
        df.select(vec_col)
        .mapInPandas(partial, schema="mn array<double>, mx array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("sq_train: empty corpus")
    mn = np.min(np.array([r["mn"] for r in rows], dtype=np.float64), axis=0)
    mx = np.max(np.array([r["mx"] for r in rows], dtype=np.float64), axis=0)
    return SQParams(vmin=mn, vmax=mx)


def sq_encode(
    df: DataFrame,
    params: SQParams,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple = (),
) -> DataFrame:
    """Encode vectors to (id, codes[, keep_cols...]) — ``codes`` is a
    ``binary`` column of exactly ``dim`` bytes. One scan, no shuffle;
    the bounds ride to executors via one tiny broadcast."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((params.vmin, params.vmax))
    keep = list(keep_cols)
    keep_schema = "".join(f", {c} {dict(df.dtypes)[c]}" for c in keep)

    def encode(batches):
        vmin, vmax = bc.value
        p = SQParams(vmin=vmin, vmax=vmax)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf[vec_col].values), dtype=np.float64)
            if X.shape[1] != p.dim:
                raise ValueError(f"vector dim {X.shape[1]} != trained dim {p.dim}")
            codes = p.encode_np(X)
            out = {id_col: pdf[id_col].values, "codes": [r.tobytes() for r in codes]}
            for c in keep:
                out[c] = pdf[c].values
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col, *keep).mapInPandas(
        encode, schema=f"{id_col} long, codes binary{keep_schema}"
    )


def _sq_kernel(payload):
    """SQ8 distance kernel for ``knn.scan_topk``: squared L2 of each exact
    query against the batch's midpoint reconstructions, one BLAS gemm
    per batch through the norm identity."""
    Q, vmin, vmax = payload
    p = SQParams(vmin=vmin, vmax=vmax)
    qn = np.einsum("ij,ij->i", Q, Q)

    def dist(pdf):
        raw = np.frombuffer(b"".join(pdf["codes"].values), dtype=np.uint8)
        Xh = p.decode_np(raw.reshape(len(pdf), p.dim))
        D = qn[:, None] - 2.0 * (Q @ Xh.T) + np.einsum("ij,ij->i", Xh, Xh)[None, :]
        np.maximum(D, 0.0, out=D)
        return D, None

    return dist


def sq_search(
    codes: DataFrame,
    params: SQParams,
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
) -> DataFrame:
    """Asymmetric top-k over the compressed (id, codes) table:
    squared-L2 of the exact query against each row's midpoint
    reconstruction. Returns (qid, neighbor_id, dist, rnk) like the
    exact kNN path. With ``rerank=R`` (and ``corpus``) the R·k
    shortlist is exact-rescored by joining winner ids back to the raw
    vectors — compressed scan does the elimination, floats are read
    only for the ≤ nq·R·k shortlist.

    ``queries`` is collected once and validated against the trained
    dimension (``knn.query_batch``); a store that already collected
    the batch passes the :class:`QueryBatch` itself.

    ``shard_col``/``cand_map`` apply a per-query shard mask inside the
    same compressed scan (exactly like pq_search / the exact pruned
    path) — this is what VectorStore.knn_sq uses to compose LSH
    multi-probe pruning with SQ8 compression."""
    k = max(int(k), 1)
    if rerank and corpus is None:
        raise ValueError("rerank requires the raw-vector corpus DataFrame")
    if cand_map is not None and shard_col is None:
        raise ValueError("cand_map requires shard_col")
    batch = query_batch(queries, qid_col, qvec_col, params.dim)
    fetch = max(int(rerank) * k, 1) if rerank else k
    partial = scan_topk(
        codes, batch, fetch, _sq_kernel, (batch.Q, params.vmin, params.vmax),
        ["codes"], id_col, shard_col=shard_col, cand_map=cand_map,
    )
    short = _final_topk(partial, fetch)
    if not rerank:
        return short
    return exact_rerank(
        short.select("qid", "neighbor_id"), batch, k, "l2sq",
        corpus=corpus, id_col=id_col, vec_col=vec_col,
    )
