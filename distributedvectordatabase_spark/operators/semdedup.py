"""SemDeDup — semantic deduplication over an embedding column
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication"; the embedding-space analog of
MinHash near-dup, and a standard curation stage for LLM training
corpora).

The reference has no dedup at all; this composes the repo's existing
pieces into the published algorithm:

1. **cluster-bucket** — each row is assigned to its nearest centroid
   (one Arrow batch matmul against a broadcast (k, d) matrix — the
   same nearest-cell math as IVFStore.append). SemDeDup only compares
   rows WITHIN a cluster, which is what makes it sub-quadratic: the
   O(n²) pair space shrinks to Σ|cell|².
2. **within-cell pairwise** — per cell, cosine similarity via chunked
   BLAS inside ``applyInPandas`` (the lsh_cosine_neardup_pairs shape:
   memory per task O(chunk × cell), never O(cell²) floats).
   Pairs with ``sim >= threshold`` are semantic-duplicate edges.
3. **group** — connected components over the edges (large-star/
   small-star, O(log n) rounds).
4. **keep one per group** — ``keep="min_id"`` keeps the smallest id
   (deterministic baseline), ``keep="far_from_centroid"`` keeps the
   member with the LOWEST cosine to its cluster centroid — the
   paper's §3 rule (the outlier is the most informative exemplar;
   near-centroid copies are the redundant ones). Ties break on id.

Scale shape: one shuffle to group by cell, one bounded-iteration CC,
one broadcast join of the (small) dropped-id set back onto the
corpus. Centroids are KBs and ride a broadcast; nothing collects the
corpus. Cell sizes bound the quadratic term exactly like IVF cell
sizes bound probe cost — at 100 TB you raise n_clusters (the paper
uses 50k clusters for LAION), you do not change the algorithm.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from distributedvectordatabase_spark.operators.kmeans import lloyd, train_sample


def fit_centroids(
    df: DataFrame,
    n_clusters: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> np.ndarray:
    """(n_clusters, d) centroid matrix: seeded ``kmeans.lloyd`` over
    ``kmeans.train_sample``'s bounded md5-of-``id_col`` sample — the
    IVF cell trainer. The same corpus always yields the same
    clustering, at any partitioning."""
    X, _ = train_sample(df, vec_col, id_col)
    return lloyd(X, int(n_clusters), seed)


def assign_members(
    df: DataFrame,
    centroids: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cell_id, cent_sim): nearest centroid per row plus the
    cosine similarity to that centroid (consumed by the paper's keep
    rule). One Arrow pass, no shuffle."""
    spark = df.sparkSession
    C = np.asarray(centroids, dtype=np.float64)
    cn = np.sqrt(np.einsum("ij,ij->i", C, C))
    bc = spark.sparkContext.broadcast((C, cn))

    def go(batches):
        C, cn = bc.value
        safe_cn = np.where(cn == 0.0, 1.0, cn)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf[vec_col].values), dtype=np.float64)
            xn = np.sqrt(np.einsum("ij,ij->i", X, X))
            # one gemm per batch, reused by both the assignment argmin
            # and the reported cosine — it dominates the pass cost
            XC = X @ C.T
            # nearest by L2² via the norm identity; similarity
            # reported as cosine
            d2 = (xn**2)[:, None] - 2.0 * XC + (cn**2)[None, :]
            cell = d2.argmin(axis=1)
            safe_xn = np.where(xn == 0.0, 1.0, xn)
            sims = (
                np.take_along_axis(XC, cell[:, None], axis=1).ravel()
                / (safe_xn * safe_cn[cell])
            )
            sims[xn == 0.0] = 0.0
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    vec_col: pdf[vec_col].values,
                    "cell_id": cell.astype(np.int32),
                    "cent_sim": sims,
                }
            )

    vec_type = dict(df.dtypes)[vec_col]
    return df.select(id_col, vec_col).mapInPandas(
        go, schema=f"{id_col} long, {vec_col} {vec_type}, cell_id int, cent_sim double"
    )


def _within_cell_edges(
    members: DataFrame,
    *,
    threshold: float,
    id_col: str,
    vec_col: str,
    chunk: int = 1024,
) -> DataFrame:
    """(src, dst) cosine >= threshold pairs within each cell — chunked
    BLAS per cell group; the only shuffle is the groupBy(cell_id)."""

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, ignore_index=True)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        X = np.array(list(pdf[vec_col]), dtype=np.float64)
        norms = np.sqrt(np.einsum("ij,ij->i", X, X))
        safe = np.where(norms == 0.0, 1.0, norms)
        Xn = X / safe[:, None]
        Xn[norms == 0.0] = 0.0
        out_a, out_b = [], []
        n = len(ids)
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            S = Xn[lo:hi] @ Xn.T
            for i in range(lo, hi):
                row = S[i - lo, i + 1 :]
                hits = np.nonzero(row >= threshold)[0] + i + 1
                if len(hits):
                    out_a.append(np.full(len(hits), ids[i]))
                    out_b.append(ids[hits])
        if not out_a:
            return pd.DataFrame({"src": [], "dst": []}).astype({"src": "int64", "dst": "int64"})
        return pd.DataFrame(
            {"src": np.concatenate(out_a), "dst": np.concatenate(out_b)}
        )

    return members.select(id_col, vec_col, "cell_id").groupBy("cell_id").applyInPandas(
        per_cell, schema="src long, dst long"
    )


def semantic_dup_members(
    df: DataFrame,
    centroids: np.ndarray,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "far_from_centroid",
    chunk: int = 1024,
) -> DataFrame:
    """Audit view: one row per member of a semantic-duplicate group —
    (id, cell_id, cent_sim, component, is_survivor). Rows with no
    duplicate above ``threshold`` don't appear (they all survive)."""
    if keep not in ("min_id", "far_from_centroid"):
        raise ValueError(f"unknown keep policy {keep!r}")
    from pyspark.storagelevel import StorageLevel

    from distributedvectordatabase_spark.operators.components import (
        connected_components,
    )

    # pin the assignment so the edge pass and the metadata join see the
    # SAME rows — connected_components materializes the edges eagerly,
    # so an unpinned non-deterministic input (a sample, generated ids)
    # would be re-evaluated for the join and could silently drop or
    # mis-rank members (the IVFStore.append pin contract). Lineage is
    # kept, so an evicted block recomputes instead of erroring.
    members = assign_members(df, centroids, id_col=id_col, vec_col=vec_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    edges = _within_cell_edges(
        members, threshold=threshold, id_col=id_col, vec_col=vec_col, chunk=chunk
    )
    comp = connected_components(edges)  # (node, component)
    dup = comp.join(
        members.select(
            F.col(id_col).alias("node"), "cell_id", "cent_sim"
        ),
        "node",
    )
    if keep == "min_id":
        # component id IS the min node id by construction
        surv = F.col("node") == F.col("component")
        return dup.select(
            F.col("node").alias(id_col), "cell_id", "cent_sim", "component",
            surv.alias("is_survivor"),
        )
    w = Window.partitionBy("component").orderBy(F.col("cent_sim").asc(), F.col("node").asc())
    return (
        dup.withColumn("_r", F.row_number().over(w))
        .select(
            F.col("node").alias(id_col), "cell_id", "cent_sim", "component",
            (F.col("_r") == 1).alias("is_survivor"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    centroids: np.ndarray | int,
    *,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "far_from_centroid",
    chunk: int = 1024,
) -> DataFrame:
    """The corpus minus semantic duplicates: every duplicate group
    (cosine >= threshold within a cluster) keeps exactly one member
    per the ``keep`` policy; rows with no duplicate pass through.
    ``centroids`` is a (k, d) matrix, or an int to fit them here with
    :func:`fit_centroids`. Returns ``df``'s original columns."""
    if isinstance(centroids, (int, np.integer)):
        centroids = fit_centroids(df, int(centroids), vec_col=vec_col, id_col=id_col)
    dropped = (
        semantic_dup_members(
            df, centroids, threshold=threshold, id_col=id_col,
            vec_col=vec_col, keep=keep, chunk=chunk,
        )
        .filter(~F.col("is_survivor"))
        .select(id_col)
    )
    # the paper removes up to ~50% of a web corpus, so the dropped set
    # is NOT always broadcast-small — leave the anti-join strategy to
    # AQE (it broadcasts when the measured side is small enough)
    return df.join(dropped, id_col, "left_anti")
