"""Exact and pruned k-nearest-neighbor search, Spark-first — and the one
search core that every index in the engine plugs into.

Re-expresses the reference's entire search path — coordinator fan-out,
per-shard FAISS top-k, global merge (reference
coordinator/coordinator.py:132-254 + shard/shard_node.py:101-133) — as
a declarative plan. Every search (exact, LSH-pruned, filtered, IVF and
the SQ8/PQ/BQ compressed legs) runs the same three steps, written once
here (the compressed legs add a rerank, below); an index only supplies
the parts that differ:

1. **collect** — :func:`query_batch` collects the bounded query batch
   once per call (:func:`collect_query_batch`, capped at
   ``MAX_QUERY_BATCH``) and validates it into one float64 matrix
   (:func:`query_matrix`): null, ragged, wrong-dimension and non-finite
   queries raise ``ValueError`` before any corpus scan is planned.
2. **scan** — :func:`scan_topk`, one ``mapInPandas`` partial top-k. The
   index is a *candidate source*: a per-query candidate set
   (``cand_map`` — LSH shards, IVF cells, dictionary-encoded filter
   values, or none for a flat scan) that masks each Arrow batch through
   a dense lookup table, plus a per-batch *distance kernel* (exact BLAS
   here, SQ8 decode in sq.py, PQ ADC lookup in pq.py). Each batch keeps
   its per-query top-k **before** any exchange, so the merge shuffles
   only O(n_queries · k · n_partitions) rows — the reference's
   per-shard top-k + coordinator argsort merge (shard/shard_node.py:127,
   coordinator/coordinator.py:211-249), vectorized and spill-safe. The
   corpus is scanned once, never shuffled. On the raw-vector paths
   (exact, LSH-pruned, filtered, IVF) the BLAS distances only *select*
   each batch's slate; the same task re-scores the slate with the
   sequential fold the SQL oracle uses (``functions.vector``'s numpy
   twins, bit-identical to ``l2sq``/``cosine_dist``) and keeps the
   exact top-k, so every emitted ``dist`` is already final.
3. **merge** — :func:`_final_topk`, the per-query window top-k by
   (dist, id) over the partials. That is the whole raw-vector search:
   one corpus scan and one small shuffle.

The compressed legs (SQ8/PQ/BQ) scan codes, not raw vectors, so their
scan distances are approximate: they cut an R·k shortlist and then
:func:`exact_rerank` it — join the shortlist back to the raw vectors by
id and re-score it with the sequential ``aggregate(zip_with(...))``
expression against the same validated matrix, handed to the JVM as an
Arrow-built LocalRelation (:func:`local_query_relation`: a
LocalTableScan, no Spark job, no SQL text).

``knn(impl="expr")`` and ``filtered_knn(impl="expr")`` keep a pure
Catalyst form — broadcast join, higher-order-function distance, window
top-k — that collects nothing: it is the form the DuckDB oracle mirrors
1:1 and the reference the tests hold the core to.

Semantics pinned for reproducibility / oracle checks:
- ties broken by (dist, neighbor_id) ascending — the reference's
  argsort tie order is undefined (coordinator/coordinator.py:229);
- k clamped to >=1 (coordinator.py:145-147) and implicitly to corpus
  size (row_number runs out; reference shard_node.py:118-120);
- distances are float64 over float32-stored vectors, summed in the
  oracle's sequential order (a self-match is exactly 0, and no value
  depends on partition count or batch split).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from distributedvectordatabase_spark.functions.vector import (
    cosine_dist,
    l2sq,
    np_cosine_dist,
    np_l2sq,
)

_METRICS = {"l2sq", "cosine"}

# Driver-side cap on the collected query batch. Every search entry point
# broadcasts the query set as a numpy matrix (the reference coordinator
# does the same with its request batch, coordinator/coordinator.py:132),
# which is only sane for bounded batches — a 10M-row "query set" is a
# similarity JOIN, not a search, and must go through the join-based
# knn(impl="expr") path (or setsim/near-dup operators) instead.
MAX_QUERY_BATCH = 100_000


def collect_query_batch(
    queries: DataFrame, qid_col: str, qvec_col: str, *extra_cols: str
) -> list:
    """Collect the query side with an explicit cap (guards the driver
    against an unbounded collect; see MAX_QUERY_BATCH). ``extra_cols``
    ride along for callers that need per-query metadata (e.g.
    filtered_knn's constraint column)."""
    rows = (
        queries.select(qid_col, qvec_col, *extra_cols)
        .limit(MAX_QUERY_BATCH + 1)
        .collect()
    )
    if len(rows) > MAX_QUERY_BATCH:
        raise ValueError(
            f"query batch exceeds MAX_QUERY_BATCH={MAX_QUERY_BATCH}; "
            "for corpus-scale query sets use the join-based knn(impl='expr') "
            "path or the near-dup/setsim operators instead of broadcast kNN"
        )
    return rows


class QueryBatch(NamedTuple):
    """The collected query batch as arrays, built once per search call
    by :func:`query_matrix`: ``qids`` (int64, nq) and ``Q`` (float64,
    nq × dim). The scan's broadcast payload and the compressed legs'
    rerank q side both read this one matrix."""

    qids: np.ndarray
    Q: np.ndarray


def query_matrix(
    qrows: list, qid_col: str, qvec_col: str, dim: int | None = None
) -> QueryBatch:
    """Validate the collected query rows and stack them into one float64
    matrix, before any corpus scan is planned.

    Raises ``ValueError`` naming the first offending ``qid`` for a null
    query vector, a vector whose length differs from ``dim`` (the
    store's dimension, as the reference checks on insert,
    shard/shard_node.py:72-74) or, without ``dim``, from the batch's
    first vector (a ragged batch), and a vector with a NaN, ±inf or
    null component — no distance to such a query is defined."""
    qids = np.fromiter((r[qid_col] for r in qrows), dtype=np.int64, count=len(qrows))
    vecs = [r[qvec_col] for r in qrows]
    for qid, v in zip(qids, vecs):
        if v is None:
            raise ValueError(f"query qid={qid} has a null vector")
    lens = np.fromiter((len(v) for v in vecs), dtype=np.int64, count=len(vecs))
    if dim is not None:
        bad = np.flatnonzero(lens != dim)
        if len(bad):
            i = bad[0]
            raise ValueError(
                f"query qid={qids[i]} has dimension {lens[i]}, "
                f"but the store's dimension is {dim}"
            )
    elif len(lens):
        bad = np.flatnonzero(lens != lens[0])
        if len(bad):
            i = bad[0]
            raise ValueError(
                f"ragged query batch: qid={qids[i]} has dimension {lens[i]}, "
                f"but qid={qids[0]} has {lens[0]}"
            )
    if not vecs:
        return QueryBatch(qids, np.zeros((0, dim or 0), dtype=np.float64))
    Q = np.array(vecs, dtype=np.float64)  # a null component becomes NaN
    bad = np.flatnonzero(~np.isfinite(Q).all(axis=1))
    if len(bad):
        raise ValueError(
            f"query qid={qids[bad[0]]} has a non-finite (NaN, inf or null) component"
        )
    return QueryBatch(qids, Q)


def query_batch(
    queries, qid_col: str = "qid", qvec_col: str = "qvec", dim: int | None = None
) -> QueryBatch:
    """Step 1 of every search: collect the query side once
    (:func:`collect_query_batch`) and validate it (:func:`query_matrix`).
    An already-collected :class:`QueryBatch` passes through unchanged,
    so a store that collected the batch to route it (LSH shards, IVF
    cells) hands the same matrix to the scan and the rerank."""
    if isinstance(queries, QueryBatch):
        return queries
    return query_matrix(
        collect_query_batch(queries, qid_col, qvec_col), qid_col, qvec_col, dim
    )


def local_query_relation(
    spark, batch: QueryBatch, qid_col: str, qvec_col: str
) -> DataFrame:
    """The query batch as an Arrow-built LocalRelation
    ``(qid_col bigint, qvec_col array<double>)``.

    The compressed legs' rerank (:func:`exact_rerank`) and the BQ query
    encoder (``bq.bq_search``) join the query vectors back to a
    candidate shortlist. Referencing the original
    ``queries`` plan there makes the broadcast build re-run the whole
    query-side subplan (e.g. a TakeOrdered scan of the corpus) as its
    own Spark job — once per search call — even though the exact same
    rows were just collected to the driver. ``createDataFrame`` over a
    ``pyarrow.Table`` hands the float64 matrix to the JVM as one Arrow
    buffer: the values are bit-identical by construction (``-0.0``,
    subnormals and all), there is no SQL text to print or parse, and the
    result is a LocalRelation, which broadcasts as a LocalTableScan
    without submitting a job (guide §5: bounded work the driver already
    did should not be re-done as a cluster job)."""
    nq, dim = batch.Q.shape
    offsets = pa.array(np.arange(nq + 1, dtype=np.int32) * dim)
    values = pa.array(batch.Q.reshape(-1), type=pa.float64())
    table = pa.table({
        qid_col: pa.array(batch.qids, type=pa.int64()),
        qvec_col: pa.ListArray.from_arrays(offsets, values),
    })
    return spark.createDataFrame(table)


def _dist_expr(metric: str, a, b) -> Column:
    if metric == "l2sq":
        return l2sq(a, b)
    if metric == "cosine":
        return cosine_dist(a, b)
    raise ValueError(f"unknown metric {metric!r}; use one of {sorted(_METRICS)}")


def batch_topk(D: np.ndarray, ids: np.ndarray, k: int, take: int):
    """Vectorized per-row top-k by (value, id) over a distance matrix.

    Returns (sel_id, sel_d) of shape (nq, min(k, ncols)), each row
    ordered by (distance, id) ascending — the whole batch is ranked
    with two stable argsorts (sort by id, then stable re-sort by dist
    = a row-wise lexsort) after an argpartition prefilter to ``take``
    columns.

    Exact under arbitrary ties: argpartition selects by distance only,
    so a tie group straddling the ``take`` boundary could hide an
    equal-distance neighbor with a smaller id. Rows where the k-th
    selected distance still has unselected duplicates are detected and
    re-ranked over all columns — the fallback costs a full row sort but
    only fires on pathological tie widths (e.g. > take duplicates of
    one vector), keeping the hot path at O(nc + take log take).
    """
    nq, nc = D.shape
    t = min(take, nc)
    if t < nc:
        part = np.argpartition(D, t - 1, axis=1)[:, :t]
    else:
        part = np.broadcast_to(np.arange(nc), (nq, nc))
    d_part = np.take_along_axis(D, part, axis=1)
    ids_part = ids[part]
    o1 = np.argsort(ids_part, axis=1, kind="stable")
    o2 = np.argsort(np.take_along_axis(d_part, o1, axis=1), axis=1, kind="stable")
    order = np.take_along_axis(o1, o2, axis=1)[:, :k]
    sel_id = np.take_along_axis(ids_part, order, axis=1)
    sel_d = np.take_along_axis(d_part, order, axis=1)
    if t < nc and sel_d.shape[1] > 0:
        # boundary-tie guard: the k-th kept distance must not have more
        # duplicates in the full row than made it into the prefilter
        kth = sel_d[:, -1]
        n_total = (D == kth[:, None]).sum(axis=1)
        n_in_take = (d_part == kth[:, None]).sum(axis=1)
        # kth == inf means every finite entry was already selected
        # (inf marks masked rows; their identity never matters)
        bad = np.flatnonzero((n_total > n_in_take) & np.isfinite(kth))
        if len(bad):
            fix_id, fix_d = batch_topk(D[bad], ids, k, take=nc)
            sel_id[bad], sel_d[bad] = fix_id, fix_d
    return sel_id, sel_d


def _final_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("qid").orderBy("dist", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "neighbor_id", "dist", "rnk")
    )


def _candidate_lut(qids: np.ndarray, cand_map: dict | None) -> np.ndarray | None:
    """Per-query candidate sets as a dense (nq × n_candidates) boolean
    lookup table, so each batch's mask is one fancy-index, not an
    np.isin per query row. A qid absent from ``cand_map`` has no
    candidates (its row stays all-False)."""
    if cand_map is None:
        return None
    n = max((s for ss in cand_map.values() for s in ss), default=-1) + 1
    lut = np.zeros((len(qids), max(n, 1)), dtype=bool)
    for i, qid in enumerate(qids):
        for s in cand_map.get(int(qid), ()):
            lut[i, s] = True
    return lut


def scan_topk(
    df: DataFrame,
    batch: QueryBatch,
    k: int,
    kernel,
    payload,
    cols: list,
    id_col: str,
    shard_col: str | None = None,
    cand_map: dict[int, frozenset] | None = None,
) -> DataFrame:
    """Step 2 of every search: the ``mapInPandas`` partial top-k.

    Per Arrow batch of ``df.select(id_col, *cols[, shard_col])``, the
    index's distance ``kernel`` gives an (nq × batch) float64 distance
    matrix ``D``; rows outside a query's candidate set (``cand_map``:
    qid → the ``shard_col`` values it may match) are masked to +inf;
    and each query's best rows are emitted as (qid, neighbor_id, dist).

    ``kernel(payload)`` runs once per task on the broadcast ``payload``
    and returns ``dist(pdf) -> (D, exact)``. A compressed kernel
    returns ``exact=None``: its k best by (D, id) are emitted (2k tie
    slack in :func:`batch_topk`). A raw-vector kernel returns
    ``exact(rows, cols)``, the sequential distance of those
    (query, batch row) pairs: ``D`` then only selects the slate, which
    is re-scored and cut in the same task (:func:`_slate_topk`)."""
    qids = batch.qids
    bc = df.sparkSession.sparkContext.broadcast(
        (qids, payload, _candidate_lut(qids, cand_map))
    )

    def scan(batches):
        qids, payload, lut = bc.value
        dist = kernel(payload)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].values.astype(np.int64)
            D, exact = dist(pdf)
            if lut is not None:
                shards = pdf[shard_col].values.astype(np.int64)
                in_range = (shards >= 0) & (shards < lut.shape[1])
                ok = np.zeros((len(qids), len(shards)), dtype=bool)
                ok[:, in_range] = lut[:, shards[in_range]]
                D[~ok] = np.inf
            if exact is None:
                sel_id, sel_d = batch_topk(D, ids, k, 2 * k)
                keep = np.isfinite(sel_d).ravel()  # drop masked rows
                rows = np.repeat(np.arange(len(qids)), sel_d.shape[1])[keep]
                nid, d = sel_id.ravel()[keep], sel_d.ravel()[keep]
            else:
                rows, cols, d = _slate_topk(D, ids, k, exact)
                nid = ids[cols]
            if len(d):
                yield pd.DataFrame({"qid": qids[rows], "neighbor_id": nid, "dist": d})

    masked = [shard_col] if cand_map is not None else []
    return df.select(*dict.fromkeys([id_col, *cols, *masked])).mapInPandas(
        scan, schema="qid long, neighbor_id long, dist double"
    )


def _slate_topk(D: np.ndarray, ids: np.ndarray, k: int, exact):
    """One batch's exact top-k per query, as flat (row, col, dist).

    The BLAS matrix ``D`` sums in a different order than the oracle's
    sequential fold, so its values may sit an ulp or so off; it only
    selects the slate: every finite entry within a relative 1e-9 of the
    row's 2k-th smallest value, so the whole tie group at the boundary
    rides along. ``exact(rows, cols)`` re-scores the slate and each row
    keeps its k best by (exact dist, id). Masked (+inf) and NaN entries
    are dropped by their ``D`` value, never by the re-scored one."""
    t = min(2 * k, D.shape[1])
    cut = np.partition(D, t - 1, axis=1)[:, t - 1]
    # a row with under 2k finite entries keeps all of them
    thr = np.where(
        np.isfinite(cut),
        cut + 1e-9 * np.maximum(1.0, np.abs(cut)),
        np.finfo(np.float64).max,
    )
    rows, cols = np.nonzero(D <= thr[:, None])
    d = exact(rows, cols)
    order = np.lexsort((ids[cols], d, rows))
    rows, cols, d = rows[order], cols[order], d[order]
    rank = np.arange(len(rows)) - np.searchsorted(rows, rows)
    keep = rank < k
    return rows[keep], cols[keep], d[keep]


def _exact_kernel(metric: str, vec_col: str):
    """The raw-vector distance kernel for :func:`scan_topk` (payload: the
    query matrix): one BLAS product per batch — squared L2 through the
    norm identity, clamped at 0, or cosine distance with a zero-norm
    guard — to select the slate, and the oracle's sequential fold
    (``functions.vector.np_l2sq``/``np_cosine_dist``) to score it. The
    slate pairs are gathered about 2^20 values at a time, so even a
    ``MAX_QUERY_BATCH`` batch never holds its whole nq × 2k × dim slate
    in memory."""
    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}; use one of {sorted(_METRICS)}")
    fold = np_l2sq if metric == "l2sq" else np_cosine_dist

    def bind(Q):
        qn = np.einsum("ij,ij->i", Q, Q)
        qnorm = np.sqrt(qn)
        step = max(1, (1 << 20) // max(Q.shape[1], 1))

        def dist(pdf):
            X = np.array(list(pdf[vec_col].values), dtype=np.float64)
            if metric == "l2sq":
                D = qn[:, None] + np.einsum("ij,ij->i", X, X)[None, :] - 2.0 * (Q @ X.T)
                np.maximum(D, 0.0, out=D)
            else:  # cosine distance with zero-norm guard
                xnorm = np.sqrt(np.einsum("ij,ij->i", X, X))
                denom = qnorm[:, None] * xnorm[None, :]
                sim = np.divide(Q @ X.T, denom, out=np.zeros((len(Q), len(X))), where=denom != 0)
                D = 1.0 - sim

            def exact(rows, cols):
                out = np.empty(len(rows))
                for s in range(0, len(rows), step):
                    out[s:s + step] = fold(Q[rows[s:s + step]], X[cols[s:s + step]])
                return out

            return D, exact

        return dist

    return bind


def exact_rerank(
    slate: DataFrame,
    batch: QueryBatch,
    k: int,
    metric: str,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The compressed legs' last step: the final top-k of a (qid,
    neighbor_id) shortlist by exact distance, returned as (qid,
    neighbor_id, dist, rnk).

    The shortlist's ≤ nq·R·k ids join back to the raw ``corpus``
    vectors by id (a hash probe, partition-prunable on a bucketed or
    cell-partitioned corpus). The q side is the already-collected
    ``batch`` as an Arrow-built LocalRelation
    (:func:`local_query_relation`) — the validated matrix the scan was
    built from, handed to the JVM as one Arrow buffer — so the rerank
    neither re-executes the ``queries`` subplan as a broadcast-build
    job nor parses SQL text. ``dist`` is the sequential
    ``aggregate(zip_with(...))`` expression the SQL oracle uses."""
    slate = slate.join(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")),
        "neighbor_id",
    )
    q = F.broadcast(local_query_relation(slate.sparkSession, batch, "qid", "_qvec"))
    rescored = slate.join(q, "qid").select(
        "qid", "neighbor_id", _dist_expr(metric, "_qvec", "nvec").alias("dist")
    )
    return _final_topk(rescored, k)


def _exact_topk(
    corpus: DataFrame,
    batch: QueryBatch,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    shard_col: str | None = None,
    cand_map: dict[int, frozenset] | None = None,
) -> DataFrame:
    """Scan + merge over raw vectors — the exact, LSH-pruned, filtered
    and IVF searches. An empty batch plans ``limit(0)``, which Catalyst
    folds to an empty relation: no rows, and no corpus scan."""
    partial = scan_topk(
        corpus, batch, k, _exact_kernel(metric, vec_col), batch.Q, [vec_col], id_col,
        shard_col=shard_col, cand_map=cand_map,
    )
    out = _final_topk(partial, k)
    return out if len(batch.qids) else out.limit(0)


def lsh_candidates(
    lsh, batch: QueryBatch, num_candidates: int
) -> tuple[dict[int, frozenset], list]:
    """The LSH candidate source: each query's multi-probe candidate
    shards (``SignLSH.candidate_shards``, computed driver-side — the
    queries are the small user-supplied side, as in the reference's
    coordinator), as ``(cand_map, shards)``: qid → its shard set, and
    the sorted union for the partition-pruning IN-list."""
    sets: dict[int, set] = {}
    for qid, qv in zip(*batch):
        sets.setdefault(int(qid), set()).update(
            int(s) for s in lsh.candidate_shards(qv, num_candidates=num_candidates)
        )
    cand_map = {q: frozenset(s) for q, s in sets.items()}
    return cand_map, sorted(set().union(*cand_map.values()))


def knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "l2sq",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    impl: str = "arrow",
    dim: int | None = None,
) -> DataFrame:
    """Batch exact kNN: for every query row, the k nearest corpus rows.

    Returns (qid, neighbor_id, dist, rnk), rnk in 1..k ordered by
    (dist, neighbor_id) ascending.

    ``impl="arrow"`` (default) is the search core over a flat scan (no
    candidate source); ``impl="expr"`` is the pure-Catalyst reference
    form: broadcast join + sequential distance expression + window
    top-k, whole-stage-codegen'd with zero Python and no driver collect.

    ``dim`` (arrow impl) is the corpus dimension when the caller knows
    it (a store does): a query of another length raises ``ValueError``
    before the scan is planned. Ragged batches and non-finite query
    components always raise (:func:`query_matrix`).
    """
    k = max(int(k), 1)
    if metric not in _METRICS:
        raise ValueError(f"unknown metric {metric!r}")
    if impl == "arrow":
        batch = query_batch(queries, qid_col, qvec_col, dim)
        return _exact_topk(corpus, batch, k, metric, id_col, vec_col)
    if impl == "expr":
        pairs = corpus.join(F.broadcast(queries.select(qid_col, qvec_col)))
        scored = pairs.select(
            F.col(qid_col).alias("qid"),
            F.col(id_col).alias("neighbor_id"),
            _dist_expr(metric, qvec_col, vec_col).alias("dist"),
        )
        return _final_topk(scored, k)
    raise ValueError(f"unknown impl {impl!r}; use 'arrow' or 'expr'")


def knn_single(
    corpus: DataFrame,
    query_vector,
    k: int = 10,
    metric: str = "l2sq",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Single-query kNN as ORDER BY dist LIMIT k → TakeOrderedAndProject
    (per-partition heap, driver merge; no full sort, no shuffle)."""
    k = max(int(k), 1)
    q = F.array(*[F.lit(float(x)) for x in query_vector])
    return (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _dist_expr(metric, q, vec_col).alias("dist"),
        )
        .orderBy("dist", "neighbor_id")
        .limit(k)
    )


def knn_pruned(
    corpus_bucketed: DataFrame,
    queries: DataFrame,
    lsh,
    k: int = 10,
    num_candidates: int = 2,
    metric: str = "l2sq",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    shard_col: str = "shard_id",
) -> DataFrame:
    """LSH-pruned approximate kNN (the reference's 2-of-3 shard probe:
    coordinator/coordinator.py:150-175, sharding/lsh_sharding.py:98-161,
    multi-probe bit-flip policy corrected per SURVEY §4).

    ``corpus_bucketed`` must carry ``shard_col`` (SignLSH.assign /
    VectorStore.read). The LSH is the candidate source
    (:func:`lsh_candidates`), applied twice:

    1. ``shard_id IN (union of candidates)``: a literal predicate
       Catalyst turns into Parquet **partition pruning** — pruned
       shards are never read from disk;
    2. per-batch shard masking inside the same Arrow/BLAS partial top-k
       scan the exact path uses, so each query only ranks rows of its
       own candidate shards.
    """
    k = max(int(k), 1)
    batch = query_batch(queries, qid_col, qvec_col, lsh.dim)
    cand_map, shards = lsh_candidates(lsh, batch, num_candidates)
    pruned = corpus_bucketed.filter(F.col(shard_col).isin(shards))
    return _exact_topk(
        pruned, batch, k, metric, id_col, vec_col, shard_col=shard_col, cand_map=cand_map,
    )


def recall_at_k(exact: DataFrame, approx: DataFrame, k: int) -> float:
    """recall@k of an approximate kNN result vs the exact one (the
    reference never measures its LSH recall; we do — SURVEY §5.3)."""
    e = exact.filter(F.col("rnk") <= k).select("qid", "neighbor_id")
    a = approx.filter(F.col("rnk") <= k).select("qid", "neighbor_id")
    hits = e.join(a, ["qid", "neighbor_id"]).count()
    total = e.count()
    return hits / total if total else 1.0


def filtered_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "l2sq",
    predicate=None,
    filter_col: str | None = None,
    qfilter_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    impl: str = "arrow",
    dim: int | None = None,
) -> DataFrame:
    """Metadata-filtered exact kNN — attribute predicates composed with
    vector search (the reference lists metadata filtering as explicit
    future work: COCO_INSTRUCTIONS.md:121-125, generate_report.py:298;
    in Spark it composes for free because search is just a plan).

    Two orthogonal filter forms, combinable:

    - ``predicate``: a global restriction (Column or SQL string)
      applied to the corpus before search. Declared as a plain
      ``filter``, so Catalyst pushes it into the Parquet scan
      (``PushedFilters`` — asserted in tests/test_knn.py): filtered
      search reads *less* than unfiltered, it never post-filters a
      full scan. This is the "WHERE label = 3 AND ... ORDER BY
      dist LIMIT k" shape a vector DB calls filtered search.
    - ``filter_col`` (+ optional ``qfilter_col``, default same name on
      the query side): a per-query equality constraint — each query
      only matches corpus rows whose ``filter_col`` equals the query's
      own value (e.g. tenant-scoped or same-label search). Semantics
      are exact post-filter kNN: the top-k *within* the allowed subset,
      identical to filtering first and searching second.

    The per-query form reuses the pruned-search machinery: the distinct
    constraint values become an ``isin`` corpus predicate (Parquet
    row-group pushdown; partition pruning when the corpus is stored
    partitioned by ``filter_col``, e.g. a VectorStore sharded on it),
    and the Arrow scan masks each batch per query exactly like
    ``knn_pruned``'s candidate-shard masking — one corpus scan for the
    whole query batch, no per-query jobs. Constraint values are
    dictionary-encoded driver-side to dense mask indices (a broadcast
    value→index join on the corpus side), so any equality-comparable
    type works — negative ints, sparse tenant ids, strings. A NULL
    constraint matches nothing (SQL equality), so that query yields no
    rows.

    ``dim`` and the query-vector checks are :func:`knn`'s.
    """
    k = max(int(k), 1)
    if predicate is not None:
        pred = predicate if isinstance(predicate, Column) else F.expr(predicate)
        corpus = corpus.filter(pred)
    if filter_col is None:
        return knn(
            corpus, queries, k=k, metric=metric, id_col=id_col, vec_col=vec_col,
            qid_col=qid_col, qvec_col=qvec_col, impl=impl, dim=dim,
        )
    qf = qfilter_col or filter_col
    if impl == "expr":
        # the equality join IS the constraint — no driver collect, no
        # cap: this is the path for corpus-scale constrained matching
        pairs = corpus.join(
            F.broadcast(queries.select(qid_col, qvec_col, F.col(qf).alias("_qf"))),
            on=F.col(filter_col) == F.col("_qf"),
        )
        scored = pairs.select(
            F.col(qid_col).alias("qid"),
            F.col(id_col).alias("neighbor_id"),
            _dist_expr(metric, qvec_col, vec_col).alias("dist"),
        )
        return _final_topk(scored, k)
    if impl != "arrow":
        raise ValueError(f"unknown impl {impl!r}; use 'arrow' or 'expr'")

    qrows = collect_query_batch(queries, qid_col, qvec_col, qf)
    batch = query_matrix(qrows, qid_col, qvec_col, dim)
    # dictionary-encode constraint values: the Arrow mask is a dense
    # boolean LUT, so raw values must become contiguous indices — raw
    # negative values would wrap and sparse large ids would blow the
    # LUT allocation (value 1e9 → a multi-GB mask)
    value_to_idx: dict = {}
    cand_map: dict[int, frozenset] = {}
    for r in qrows:
        v = r[qf]
        if v is None:
            continue  # NULL matches nothing; the query stays fully masked
        idx = value_to_idx.setdefault(v, len(value_to_idx))
        cand_map[int(r[qid_col])] = frozenset([idx])
    pruned = corpus.filter(F.col(filter_col).isin(list(value_to_idx)))
    if value_to_idx:
        # built from Arrow, a LocalRelation: the broadcast runs no job
        map_df = corpus.sparkSession.createDataFrame(pa.table({
            "_fval": pa.array(list(value_to_idx)),
            "_fidx": pa.array(list(value_to_idx.values()), pa.int64()),
        }))
        masked = pruned.join(
            F.broadcast(map_df), F.col(filter_col) == F.col("_fval")
        ).drop("_fval")
    else:
        masked = pruned.withColumn("_fidx", F.lit(0))  # pruned is already empty

    return _exact_topk(
        masked, batch, k, metric, id_col, vec_col, shard_col="_fidx", cand_map=cand_map,
    )
