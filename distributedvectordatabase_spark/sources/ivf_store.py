"""IVF (inverted-file) vector store — build-once / query-many ANN.

This store separates the phases the way the reference separates index
build from search (shard/shard_node.py:51-99 build vs :101-133 search):

- **build**: seeded numpy Lloyd (``operators/kmeans.py``) on a bounded
  md5-ordered sample of the corpus, the way FAISS trains its coarse
  quantizer → per-row nearest-centroid assignment → Parquet
  ``partitionBy("cell_id")``; the tiny centroid matrix is persisted
  next to the data as JSON. At 100 TB the partitioned write is the
  only full pass that is not a bounded sample or a count.
- **query**: load centroids (KBs), rank cells per query driver-side,
  then ``cell_id IN (...)`` + per-query equi-join — Catalyst partition
  pruning skips the unprobed cells' files entirely, so query cost is
  ~n_probe/n_cells of a full scan, same shape as the LSH-pruned path.

Append ingest assigns new rows to the *existing* centroids (no refit),
matching standard IVF semantics; periodic rebuild is a caller policy.
Build, split and append assign with the one rule
``kmeans.nearest_cells``, so every live row sits in its nearest cell.
Append, delete and compact follow ``tombstones.GenerationalStore``'s
commit protocol over the ``_centroids.json`` sidecar.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from distributedvectordatabase_spark.sources.tombstones import (
    StreamedStore,
    atomic_dump_json,
    locked_writer,
)
from distributedvectordatabase_spark.sources.vector_store import VectorTable

from distributedvectordatabase_spark.operators.kmeans import (
    lloyd,
    nearest_cells_udf,
    train_sample,
)
from distributedvectordatabase_spark.operators.knn import (
    QueryBatch,
    _exact_topk,
    query_batch,
)


class IVFStore(VectorTable, StreamedStore):
    _SIDECAR = "_centroids.json"

    def __init__(
        self,
        path: str,
        n_cells: int | None = None,
        seed: int = 42,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        meta_cols: tuple | None = None,
    ):
        self.path = path
        # reopening a built store: the persisted centroid sidecar's
        # n_cells / meta_cols are authoritative (same reopen contract
        # as VectorStore/_lsh.json); an explicit argument wins for
        # builds
        side = self._config()
        self.n_cells = int(side["n_cells"]) if n_cells is None and side else (n_cells or 16)
        self.meta_cols = (
            tuple(side.get("meta_cols", ())) if meta_cols is None else tuple(meta_cols)
        )
        self.seed = seed
        self.id_col = id_col
        self.vec_col = vec_col

    # underscore-prefixed entries are invisible to spark.read.parquet
    # on self.path, so the compressed table and its codebook can live
    # inside the store directory without polluting the raw scan
    @property
    def _pq_path(self) -> str:
        return os.path.join(self.path, "_pq")

    @property
    def _pq_codebook_path(self) -> str:
        return os.path.join(self.path, "_pq_codebook.json")

    @property
    def _sq_path(self) -> str:
        return os.path.join(self.path, "_sq")

    @property
    def _sq_params_path(self) -> str:
        return os.path.join(self.path, "_sq_params.json")

    @property
    def _bq_path(self) -> str:
        return os.path.join(self.path, "_bq")

    @property
    def _bq_params_path(self) -> str:
        return os.path.join(self.path, "_bq_params.json")

    # -- build ---------------------------------------------------------------

    @locked_writer
    def build(
        self,
        df: DataFrame,
        split_threshold: float | None = None,
        max_split_rounds: int = 3,
    ) -> None:
        """Train the cells and write the cell-partitioned table.

        The ``n_cells`` centroids are ``kmeans.lloyd`` (seed
        ``self.seed``, 20 iterations) over ``kmeans.train_sample``'s
        bounded md5-ordered sample, so they are byte-identical at any
        input partitioning; the write assigns every row with
        ``kmeans.nearest_cells``.

        ``split_threshold=t`` bounds cell skew: k-means minimizes SSE,
        not balance, so a dense region can leave one cell far above the
        mean — most often after appends route a new mode into frozen
        centroids — and at 100 TB a hot cell is a straggler scan on
        every probe that touches it (the same failure class as the
        MinHash hot band keys, which are capped and audited). After
        the initial fit, any cell holding more than ``t×`` the mean
        count is recursively re-fit: Lloyd splits it into
        ``ceil(size/(t·mean))`` subcells, the parent centroid is
        replaced by the subcentroids, and ONE global nearest-centroid
        reassignment pass restores the store invariant (every row in
        its nearest cell — exactly what append/query assume), repeated
        up to ``max_split_rounds`` or until no cell exceeds the bound.
        Cost per round: one bounded sample + fit per oversized cell +
        one matmul projection over the corpus — never an extra
        shuffle; the partitioned write at the end is unchanged. Audit
        via :meth:`cell_metrics` / :meth:`cell_distribution`."""
        X, _ = train_sample(df, self.vec_col, self.id_col)
        C = lloyd(X, self.n_cells, self.seed)
        assigned = df.select(
            self.id_col, self.vec_col, *self.meta_cols,
            nearest_cells_udf(C)(F.col(self.vec_col)).alias("cell_id"),
        )
        centers = C.tolist()
        if split_threshold is not None:
            assigned, centers = self._split_oversized(
                assigned, centers, float(split_threshold), int(max_split_rounds)
            )
            self.n_cells = len(centers)
        assigned = assigned.withColumn("_gen", F.lit(1))
        # the rows restart at gen 1, so the delete history restarts too
        # (the static overwrite below also drops the whole store dir)
        self._fresh_history()
        assigned.write.mode("overwrite").partitionBy("cell_id").parquet(self.path)
        radii = self._cell_radii_of(
            df.sparkSession.read.parquet(self.path), np.array(centers, dtype=np.float64)
        )
        self._dump(
            {"n_cells": self.n_cells, "seed": self.seed, "centers": centers,
             "gen": 1, "meta_cols": list(self.meta_cols), "radii": radii},
        )

    def _cell_radii_of(self, df: DataFrame, C: np.ndarray) -> list:
        """Per-cell radius (max member distance to the cell centroid) —
        one batched matmul + one tiny aggregation. The radii power the
        triangle-inequality cell bound in filtered search: any point of
        cell c is at least (||q - centroid_c|| - r_c) from q, so cells
        whose bound exceeds the current kth distance can be pruned
        EXACTLY instead of heuristically."""

        @F.pandas_udf("double")
        def cdist(vecs: pd.Series, cells: pd.Series) -> pd.Series:
            X = np.array(list(vecs.values), dtype=np.float64)
            cc = C[cells.to_numpy()]
            return pd.Series(np.sqrt(((X - cc) ** 2).sum(axis=1)))

        radii = [0.0] * len(C)
        for r in (
            df.select(F.col("cell_id"), cdist(F.col(self.vec_col), F.col("cell_id")).alias("_d"))
            .groupBy("cell_id")
            .agg(F.max("_d").alias("r"))
            .collect()
        ):
            radii[int(r["cell_id"])] = float(r["r"])
        return radii

    def cell_radii(self) -> np.ndarray | None:
        """Radii from the sidecar (None on stores built before radii
        existed — filtered search then falls back to fill-to-k).
        Deletes only shrink cells, so a stale radius stays a valid
        upper bound; appends extend it exactly (see append)."""
        side = self._config()
        return np.array(side["radii"], dtype=np.float64) if "radii" in side else None

    def _split_oversized(
        self,
        assigned: DataFrame,
        centers: list,
        t: float,
        max_rounds: int,
        keep_cols: tuple = (),
    ) -> tuple:
        """Recursive oversized-cell split (see build). Returns the
        rebalanced (assignment df, centers). Bounded driver state:
        per-round cell counts (O(n_cells) rows) and the centroid
        matrix. ``keep_cols`` ride through the reassignment unchanged
        (compact passes ``_gen`` so snapshot history survives a
        rebalance)."""
        if t <= 1.0:
            raise ValueError("split_threshold must exceed 1 (t x mean cells split)")
        assigned = assigned.localCheckpoint(eager=True)
        for rnd in range(max_rounds):
            sizes = {
                int(r["cell_id"]): int(r["n"])
                for r in assigned.groupBy("cell_id").agg(F.count("*").alias("n")).collect()
            }
            total = sum(sizes.values())
            mean = total / max(len(centers), 1)
            oversized = sorted(c for c, s in sizes.items() if s > t * mean)
            if not oversized:
                break
            new_centers = [c for i, c in enumerate(centers) if i not in set(oversized)]
            for c in oversized:
                m = max(2, -(-sizes[c] // int(max(t * mean, 1))))
                X, _ = train_sample(
                    assigned.filter(F.col("cell_id") == c), self.vec_col,
                    self.id_col, n=sizes[c],
                )
                new_centers.extend(lloyd(X, min(m, sizes[c]), self.seed + 1 + c).tolist())
            centers = new_centers
            # one global nearest-centroid pass: restores the invariant
            # every row sits in its nearest cell of the FINAL set
            assigned = assigned.select(
                self.id_col, self.vec_col, *self.meta_cols, *keep_cols,
                nearest_cells_udf(centers)(F.col(self.vec_col)).alias("cell_id"),
            ).localCheckpoint(eager=True)
        return assigned, centers

    def centroids(self) -> np.ndarray:
        return np.array(self._config()["centers"], dtype=np.float64)

    # -- balance audit -------------------------------------------------------

    def cell_distribution(self, spark: SparkSession) -> DataFrame:
        """Per-cell live count + pct — the O15 shard analytics applied
        to IVF cells (one partial+final aggregation, no driver loop)."""
        from distributedvectordatabase_spark.operators.stats import shard_distribution

        return shard_distribution(self._read_live(spark), shard_col="cell_id")

    def cell_metrics(self, spark: SparkSession) -> DataFrame:
        """One-row balance audit (min/max/avg/CV/imbalance + quality
        bucket) over live cell counts — a hot cell here is a straggler
        scan at scale; rebuild with ``split_threshold`` to bound it."""
        from distributedvectordatabase_spark.operators.stats import distribution_metrics

        return distribution_metrics(self._read_live(spark), shard_col="cell_id")

    # -- ingest --------------------------------------------------------------

    @locked_writer
    def append(self, df: DataFrame, ingest_batch: int | None = None) -> None:
        """Assign new rows to the existing centroids (no refit) and
        append — ``kmeans.nearest_cells`` runs as a pandas_udf batch
        GEMM, no shuffle beyond the partitioned write.

        Crash-atomic (the GenerationalStore two-phase protocol): a
        write intent persists before any data job runs, and one final
        sidecar dump commits the gen together with (for
        ``stream_ivf_ingest``) the ``ingest_batch`` marker. A crash
        anywhere in between leaves the orphan rows — raw and codes —
        invisible to every read until the next writer heals them; the
        replay lands under a fresh gen. ``compact()`` reclaims aborted
        rows physically."""
        C = self.centroids()
        raw_cols = df.sparkSession.read.parquet(self.path).columns
        if "_gen" not in raw_cols:
            raise ValueError(
                "store predates delete support (no _gen column); run "
                "compact(spark) once to upgrade before appending"
            )
        gen = self._begin_append()
        out = df.select(self.id_col, self.vec_col, *self.meta_cols).withColumn(
            "cell_id", nearest_cells_udf(C)(F.col(self.vec_col))
        ).withColumn("_gen", F.lit(gen))
        has_pq = os.path.exists(self._pq_codebook_path)
        has_sq = os.path.exists(self._sq_params_path)
        has_bq = os.path.exists(self._bq_params_path)
        old_radii = self.cell_radii()
        # pin the assigned batch so the raw write, the codes writes and
        # the radius aggregation all see the SAME rows — without this,
        # a non-deterministic input (stream batch, sample, generated
        # ids) would be recomputed per action and the tables could
        # silently diverge
        out = out.cache()
        if old_radii is not None:
            # widen the radii BEFORE the data lands: a too-large radius
            # is merely conservative for the filtered-search bound, but
            # a crash between the data write and a later radius update
            # would leave radii too SMALL — and wrongly prune cells
            # holding the new rows
            batch = self._cell_radii_of(out, self.centroids())
            side = self._config()
            side["radii"] = [max(a, b) for a, b in zip(old_radii.tolist(), batch)]
            self._dump(side)
        out.write.mode("append").partitionBy("cell_id").parquet(self.path)
        # keep the IVFPQ codes table in sync: new rows are encoded with
        # the EXISTING codebook (standard IVFPQ ingest — codes are only
        # as good as the codebook, so periodic build_pq refresh is a
        # caller policy, same as centroid rebuild). A failure in any of
        # these writes aborts the append BEFORE the phase-2 commit, so
        # both the raw rows and any partial codes stay invisible
        # orphans (healed on the next write, reclaimed by compact) —
        # the two tables can never serve out of sync.
        try:
            if has_pq:
                from distributedvectordatabase_spark.operators.pq import pq_encode

                (
                    pq_encode(out, self.pq_codebook(), id_col=self.id_col,
                              vec_col=self.vec_col, keep_cols=("cell_id", "_gen"),
                              cell_centroids=C if self.pq_is_residual() else None,
                              rotation=self.pq_rotation())
                    .write.mode("append")
                    .partitionBy("cell_id")
                    .parquet(self._pq_path)
                )
            if has_sq:
                from distributedvectordatabase_spark.operators.sq import sq_encode

                (
                    sq_encode(out, self.sq_params(), id_col=self.id_col,
                              vec_col=self.vec_col, keep_cols=("cell_id", "_gen"))
                    .write.mode("append")
                    .partitionBy("cell_id")
                    .parquet(self._sq_path)
                )
            if has_bq:
                from distributedvectordatabase_spark.operators.bq import bq_encode

                # the persisted (n_bits, seed) are authoritative — new
                # codes must be bit-compatible with the stored ones
                with open(self._bq_params_path) as f:
                    bside = json.load(f)
                (
                    bq_encode(out, int(bside["dim"]), vec_col=self.vec_col,
                              n_bits=bside.get("n_bits"),
                              seed=int(bside.get("seed", 42)))
                    .select(self.id_col, "bq_code", "cell_id", "_gen")
                    .write.mode("append")
                    .partitionBy("cell_id")
                    .parquet(self._bq_path)
                )
        finally:
            out.unpersist()
        self._commit(gen, ingest_batch)

    @locked_writer
    def compact(
        self,
        spark: SparkSession,
        files_per_cell: int = 1,
        split_threshold: float | None = None,
        max_split_rounds: int = 3,
    ) -> None:
        """Rewrite each cell into ``files_per_cell`` files. Appends leave
        one file per (batch, writer task); compaction restores the
        build-time layout. The new copy is complete before the old
        one is removed (``GenerationalStore._compaction``).

        ``split_threshold=t`` rebalances while it rewrites (r7, VERDICT
        r6 #5): ``build(split_threshold=)`` bounds hot cells at build
        time, but streamed/batch appends assign to FROZEN centroids, so
        a drifting ingest re-skews cells — and at 100 TB a hot cell is
        a straggler on every probe that routes to it. The same
        recursive split (:meth:`_split_oversized`) runs over the live
        rows (``_gen`` rides through, so snapshot history survives),
        the sidecar adopts the new centroid set with exact recomputed
        radii, and the PQ/SQ/BQ code tables re-encode from the
        rewritten rows under their EXISTING trained params (codebook /
        bounds / bit config are corpus-level artifacts, untouched by a
        re-cell; residual PQ codes re-derive against the new centroids,
        which is what knn_pq decodes against). Full-probe search is
        invariant under any cell layout, so n_probe=n_cells results
        stay pinned equal to exact — asserted in tests."""
        import shutil

        side = self._config()
        live = self._read_live(spark)
        if split_threshold is not None:
            live, centers = self._split_oversized(
                live, side["centers"], float(split_threshold),
                int(max_split_rounds), keep_cols=("_gen",),
            )
            self.n_cells = len(centers)
            side["centers"] = centers
            side["n_cells"] = self.n_cells
        spread = (F.abs(F.hash(self.id_col)) % files_per_cell).alias("_spread")
        with self._compaction(side) as tmp:
            (
                live
                .repartition(self.n_cells * files_per_cell, F.col("cell_id"), spread)
                .write.mode("overwrite")
                .partitionBy("cell_id")
                .parquet(tmp)
            )
            if split_threshold is not None and "radii" in side:
                # cells changed: exact radii over the final layout (the
                # no-split path keeps the old radii — deletes only shrink
                # cells, so they remain valid upper bounds for free)
                side["radii"] = self._cell_radii_of(
                    spark.read.parquet(tmp),
                    np.array(side["centers"], dtype=np.float64),
                )
            # the codes tables are rewritten live below, folding the
            # tombstones into every table the swap replaces
            rebal = live if split_threshold is not None else None
            if os.path.exists(self._pq_path):
                if rebal is not None:
                    from distributedvectordatabase_spark.operators.pq import pq_encode

                    C = np.array(side["centers"], dtype=np.float64)
                    codes = pq_encode(
                        rebal, self.pq_codebook(), id_col=self.id_col,
                        vec_col=self.vec_col, keep_cols=("cell_id", "_gen"),
                        cell_centroids=C if self.pq_is_residual() else None,
                        rotation=self.pq_rotation(),
                    )
                else:
                    codes = self._codes(spark, self._pq_path)
                (
                    codes.write.mode("overwrite")
                    .partitionBy("cell_id")
                    .parquet(os.path.join(tmp, os.path.basename(self._pq_path)))
                )
            if os.path.exists(self._pq_codebook_path):
                shutil.copy(
                    self._pq_codebook_path,
                    os.path.join(tmp, os.path.basename(self._pq_codebook_path)),
                )
            if os.path.exists(self._sq_params_path):
                if rebal is not None:
                    from distributedvectordatabase_spark.operators.sq import sq_encode

                    codes = sq_encode(
                        rebal, self.sq_params(), id_col=self.id_col,
                        vec_col=self.vec_col, keep_cols=("cell_id", "_gen"),
                    )
                else:
                    codes = self._codes(spark, self._sq_path)
                (
                    codes.write.mode("overwrite")
                    .partitionBy("cell_id")
                    .parquet(os.path.join(tmp, os.path.basename(self._sq_path)))
                )
                shutil.copy(
                    self._sq_params_path,
                    os.path.join(tmp, os.path.basename(self._sq_params_path)),
                )
            if os.path.exists(self._bq_params_path):
                if rebal is not None:
                    from distributedvectordatabase_spark.operators.bq import bq_encode

                    with open(self._bq_params_path) as f:
                        bside = json.load(f)
                    codes = bq_encode(
                        rebal, int(bside["dim"]), vec_col=self.vec_col,
                        n_bits=bside.get("n_bits"),
                        seed=int(bside.get("seed", 42)),
                    ).select(self.id_col, "bq_code", "cell_id", "_gen")
                else:
                    codes = self._codes(spark, self._bq_path)
                (
                    codes.write.mode("overwrite")
                    .partitionBy("cell_id")
                    .parquet(os.path.join(tmp, os.path.basename(self._bq_path)))
                )
                shutil.copy(
                    self._bq_params_path,
                    os.path.join(tmp, os.path.basename(self._bq_params_path)),
                )

    # -- IVFPQ ---------------------------------------------------------------

    def _residual_df(self, df: DataFrame, MU: np.ndarray) -> DataFrame:
        """(id, _resid) — residual vectors as a column, for fitting the
        OPQ rotation in residual space. One Arrow pass, no shuffle."""
        from pyspark.sql.functions import pandas_udf

        spark = df.sparkSession
        bc = spark.sparkContext.broadcast(MU)

        @pandas_udf("array<double>")
        def resid(vecs: pd.Series, cells: pd.Series) -> pd.Series:
            M = bc.value
            X = np.array(list(vecs.values), dtype=np.float64)
            X = X - M[cells.values.astype(np.int64)]
            return pd.Series(list(X))

        return df.select(
            self.id_col, resid(F.col(self.vec_col), F.col("cell_id")).alias("_resid")
        )

    @locked_writer
    def build_pq(
        self,
        spark: SparkSession,
        m: int = 16,
        nbits: int = 6,
        residual: bool = True,
        opq: bool = False,
    ) -> None:
        """Train PQ codebooks over the built store and write the
        compressed (id, codes) table, cell-partitioned like the raw
        one — together they form an IVFPQ index: cell routing prunes
        partitions, ADC scans only codes, rerank probes raw vectors
        for the shortlist ids alone. ``append`` keeps the codes table
        in sync by encoding new rows with the existing codebook;
        re-run build_pq to refresh codebooks after heavy drift.

        ``residual=True`` (default — the standard IVFPQ formulation,
        Jégou et al. §IV-A / FAISS IndexIVFPQ) trains and encodes the
        residual ``x - centroid[cell]`` instead of the raw vector:
        per-cell residuals span a much smaller domain than the corpus,
        so the same m·nbits budget loses less to quantization and ADC
        recall rises (see tests/test_ivf_store.py raw-vs-residual
        comparison). ``residual=False`` keeps the raw-vector encoding
        for A/B measurement.

        ``opq=True`` additionally fits an orthogonal PCA rotation (on
        the residuals when ``residual``, else the raw vectors —
        operators/opq.fit_rotation) and trains/encodes in that basis:
        OPQ-IVFPQ-lite (Ge et al. CVPR 2013, PCA-initialized variant).
        The rotation is L2-preserving, so distances and rerank
        semantics are unchanged — only quantization error drops. The
        matrix persists in the codebook sidecar; append/knn_pq apply
        it automatically."""
        import json as _json

        from distributedvectordatabase_spark.operators.pq import pq_encode, pq_train

        # live rows only, _gen retained: the codes table mirrors the raw
        # rows' generations so later deletes filter both tables alike
        df = self._read_live(spark)
        MU = self.centroids() if residual else None
        R = None
        if opq:
            from distributedvectordatabase_spark.operators.opq import fit_rotation

            base = (
                self._residual_df(df, MU).withColumnRenamed("_resid", "_fitvec")
                if residual
                else df.select(self.id_col, F.col(self.vec_col).alias("_fitvec"))
            )
            R = fit_rotation(base, vec_col="_fitvec", id_col=self.id_col, m=m)
        cb = pq_train(df, vec_col=self.vec_col, m=m, nbits=nbits,
                      id_col=self.id_col, cell_centroids=MU, rotation=R)
        (
            pq_encode(df, cb, id_col=self.id_col, vec_col=self.vec_col,
                      keep_cols=("cell_id", "_gen"), cell_centroids=MU, rotation=R)
            .write.mode("overwrite")
            .partitionBy("cell_id")
            .parquet(self._pq_path)
        )
        # built_gen: the snapshot floor — rows deleted before this build
        # are physically absent from the codes (r9)
        side = {**cb.to_dict(), "residual": bool(residual),
                "built_gen": self._gen()}
        if R is not None:
            side["rotation"] = R.tolist()
        atomic_dump_json(self._pq_codebook_path, side)

    def pq_codebook(self):
        import json as _json

        from distributedvectordatabase_spark.operators.pq import PQCodebook

        with open(self._pq_codebook_path) as f:
            return PQCodebook.from_dict(_json.load(f))

    def pq_is_residual(self) -> bool:
        import json as _json

        with open(self._pq_codebook_path) as f:
            return bool(_json.load(f).get("residual", False))

    def pq_rotation(self) -> np.ndarray | None:
        import json as _json

        with open(self._pq_codebook_path) as f:
            r = _json.load(f).get("rotation")
        return np.array(r, dtype=np.float64) if r is not None else None

    # -- IVF-SQ8 -------------------------------------------------------------

    @locked_writer
    def build_sq(self, spark: SparkSession) -> None:
        """Build (or rebuild) the SQ8 codes sidecar: exact per-dim
        min/max bounds over the live rows, one encode scan into a
        cell-partitioned ``_sq/`` table (1 byte/dim) — together with
        the centroids this is FAISS IndexIVFScalarQuantizer: cell
        routing prunes partitions, the asymmetric scan reads only
        codes, rerank probes raw vectors for the shortlist ids alone.
        The practical high-D recipe when PQ's sub-byte codes lose to
        distance concentration (BASELINE.md: SQ8 holds recall 1.0 at
        512-D iid gaussian where PQ ADC drops to 0.11). ``append``
        keeps the codes in sync with the existing bounds."""
        from distributedvectordatabase_spark.operators.sq import sq_encode, sq_train

        df = self._read_live(spark)
        params = sq_train(df, vec_col=self.vec_col)
        (
            sq_encode(df, params, id_col=self.id_col, vec_col=self.vec_col,
                      keep_cols=("cell_id", "_gen"))
            .write.mode("overwrite")
            .partitionBy("cell_id")
            .parquet(self._sq_path)
        )
        # built_gen: snapshot floor (r9) — see build_pq
        atomic_dump_json(
            self._sq_params_path,
            {**params.to_dict(), "built_gen": self._gen()},
        )

    def sq_params(self):
        from distributedvectordatabase_spark.operators.sq import SQParams

        with open(self._sq_params_path) as f:
            return SQParams.from_dict(json.load(f))

    def _sq_codes_live(self, spark: SparkSession) -> DataFrame:
        return self._codes(spark, self._sq_path)

    def knn_sq(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 4,
        rerank: int = 2,
        qid_col: str = "qid",
        qvec_col: str = "qvec",
        where: str | None = None,
        as_of_gen: int | None = None,
    ) -> DataFrame:
        """IVF-SQ8 search: probe the ``n_probe`` nearest cells
        (partition pruning on the codes table), asymmetric-scan only
        those cells' 1-byte/dim codes with a per-query cell mask, then
        exact-rerank the shortlist against the raw vectors of the same
        probed cells. ``rerank=0`` returns the SQ-estimate distances.

        ``where``/``as_of_gen`` (r9): filtered + snapshot serving on
        the compressed leg. Matching ids are read once off the raw
        table (predicate + id pushed next to the same cell pruning;
        ``build(meta_cols=)`` co-locates the metadata) and semi-joined
        into the codes scan BEFORE the shortlist cut — a hard
        constraint with store-global trained bounds, never
        score-then-discard. A snapshot read reconstructs codes-as-of
        via the rows' ``_gen`` (appends sync inline), floor-checked
        against the sidecar's ``built_gen``. NOTE: unlike the raw
        ``knn(where=)``, the compressed leg does not escalate — a
        selective filter inside few probed cells may return under k
        rows; widen ``n_probe`` or use the raw leg for exactness."""
        from distributedvectordatabase_spark.operators.sq import sq_search

        self._check_codes_snapshot(self._sq_params_path, as_of_gen, "sq")
        codes, corpus, batch, cand_map, _ = self._probed_codes(
            spark, self._sq_path, queries, qid_col, qvec_col, n_probe, where, as_of_gen,
        )
        return sq_search(
            codes, self.sq_params(), batch, k=k, id_col=self.id_col,
            rerank=rerank, corpus=corpus if rerank else None,
            vec_col=self.vec_col, shard_col="cell_id", cand_map=cand_map,
        )

    def knn_pq(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 4,
        rerank: int = 4,
        qid_col: str = "qid",
        qvec_col: str = "qvec",
        where: str | None = None,
        as_of_gen: int | None = None,
    ) -> DataFrame:
        """IVFPQ search: probe the ``n_probe`` nearest cells (partition
        pruning on the compressed table), ADC-scan only those cells'
        codes with a per-query cell mask, then exact-rerank the
        shortlist against the raw vectors of the same probed cells —
        both probes prune partitions, and the float column is read only
        for ≤ nq·rerank·k shortlist rows. ``rerank=0`` returns raw ADC
        distances. ``where``/``as_of_gen``: filtered + snapshot
        serving, same contracts and non-escalation caveat as
        :meth:`knn_sq`."""
        from distributedvectordatabase_spark.operators.pq import pq_search

        self._check_codes_snapshot(self._pq_codebook_path, as_of_gen, "pq")
        codes, corpus, batch, cand_map, C = self._probed_codes(
            spark, self._pq_path, queries, qid_col, qvec_col, n_probe, where, as_of_gen,
        )
        return pq_search(
            codes, self.pq_codebook(), batch, k=k, id_col=self.id_col,
            rerank=rerank, corpus=corpus, vec_col=self.vec_col,
            shard_col="cell_id", cand_map=cand_map,
            cell_centroids=C if self.pq_is_residual() else None,
            rotation=self.pq_rotation(),
        )

    # -- IVF-BQ ----------------------------------------------------------------

    _BQ_KEEP = object()  # build_bq default: adopt the persisted config

    @locked_writer
    def build_bq(self, spark: SparkSession, n_bits=_BQ_KEEP,
                 seed=_BQ_KEEP, normalize=_BQ_KEEP) -> None:
        """Build (or rebuild) the binary codes sidecar inside the IVF
        layout: one projection scan packs sign bits into ceil(bits/32)
        bigint words (operators/bq.py), written cell-partitioned to
        ``_bq/`` — FAISS ``IndexBinaryIVF`` shape: cell routing prunes
        partitions, the Hamming scan reads 1 bit/dim, exact rerank
        touches raw vectors only for the shortlist. This completes the
        compression matrix — flat {exact, SQ8, BQ} × IVF {exact, PQ,
        SQ8, BQ} — so the cheapest first-pass scan also gets the
        ~n_probe/n_cells IO cut.

        Config semantics mirror ``VectorStore.build_bq``: the
        (n_bits, seed, normalize) triple is persisted and AUTHORITATIVE
        at query time (queries are encoded from it, never from caller
        args), and a default-argument rebuild keeps the persisted
        config. One deliberate difference: ``append`` here keeps the
        codes table in sync inline (the PQ/SQ pattern — the encode is a
        pure function of the persisted params), so there is no
        staleness generation to guard and streamed stores
        (``stream_ivf_ingest``) stay BQ-queryable without a rebuild."""
        from distributedvectordatabase_spark.operators.bq import bq_encode

        prev = {}
        if os.path.exists(self._bq_params_path):
            with open(self._bq_params_path) as f:
                prev = json.load(f)
        if n_bits is IVFStore._BQ_KEEP:
            n_bits = prev.get("n_bits")
        if seed is IVFStore._BQ_KEEP:
            seed = prev.get("seed", 42)
        if normalize is IVFStore._BQ_KEEP:
            normalize = bool(prev.get("normalize", False))
        dim = int(self.centroids().shape[1])
        (
            bq_encode(self._read_live(spark), dim, vec_col=self.vec_col,
                      n_bits=n_bits, seed=int(seed))
            .select(self.id_col, "bq_code", "cell_id", "_gen")
            .write.mode("overwrite")
            .partitionBy("cell_id")
            .parquet(self._bq_path)
        )
        atomic_dump_json(
            self._bq_params_path,
            {"dim": dim,
             "n_bits": None if n_bits is None else int(n_bits),
             "seed": int(seed), "normalize": bool(normalize),
             # snapshot floor (r9) — see build_pq
             "built_gen": self._gen()},
        )

    def knn_bq(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 4,
        rerank: int = 2,
        qid_col: str = "qid",
        qvec_col: str = "qvec",
        metric: str | None = None,
        where: str | None = None,
        as_of_gen: int | None = None,
    ) -> DataFrame:
        """IVF-BQ search: probe the ``n_probe`` nearest cells (literal
        IN-list → Catalyst partition pruning on the 1-bit codes table),
        Hamming-scan only those cells with a per-query cell mask inside
        the join-free fan-out (bq_topk's shard_map), then exact-rerank
        the ``rerank·k`` shortlist against the raw vectors of the same
        probed cells. Rerank is mandatory — sign bits alone carry no
        usable distance scale.

        ``metric=None`` adopts the persisted domain: a
        ``build_bq(normalize=True)`` store reranks by cosine (the
        honest pairing — the Hamming shortlist is angular by
        construction), others by squared L2. Returns
        (qid, neighbor_id, dist, rnk), the knn() shape.
        ``where``/``as_of_gen``: filtered + snapshot serving, same
        contracts and non-escalation caveat as :meth:`knn_sq`."""
        from distributedvectordatabase_spark.operators.bq import bq_search

        if not os.path.exists(self._bq_params_path):
            raise ValueError("no binary sidecar: run build_bq(spark) first")
        self._check_codes_snapshot(self._bq_params_path, as_of_gen, "bq")
        with open(self._bq_params_path) as f:
            side = json.load(f)
        if metric is None:
            metric = "cosine" if side.get("normalize") else "l2sq"
        codes, corpus, batch, cand_map, _ = self._probed_codes(
            spark, self._bq_path, queries, qid_col, qvec_col, n_probe, where, as_of_gen,
        )
        # persisted (n_bits, seed) are authoritative for query encoding
        return bq_search(
            codes, batch, corpus, int(side["dim"]), k=k, rerank=rerank,
            metric=metric, id_col=self.id_col, vec_col=self.vec_col,
            n_bits=side.get("n_bits"), seed=int(side.get("seed", 42)),
            shard_map=cand_map, shard_col="cell_id",
        )

    # -- upsert --------------------------------------------------------------

    @locked_writer
    def upsert(self, df: DataFrame) -> None:
        """Replace-by-id: tombstone the incoming ids, then append (the
        new rows' gen out-ranks the tombstone). Codes stay in sync via
        append's encode path."""
        self.delete(df.sparkSession, df.select(self.id_col))
        self.append(df)

    # -- query ---------------------------------------------------------------

    def _codes_live(self, spark: SparkSession) -> DataFrame:
        return self._codes(spark, self._pq_path)

    def _check_codes_snapshot(self, side_path: str, as_of_gen: int | None,
                              what: str) -> None:
        """Snapshot floor for a compressed leg (r9): appends sync codes
        inline (a pure function of persisted params), so the only
        unreconstructable history is rows deleted before the sidecar's
        (re)build — tombstones.check_codes_snapshot_floor."""
        if as_of_gen is None:
            return
        from distributedvectordatabase_spark.sources.tombstones import (
            check_codes_snapshot_floor,
        )

        with open(side_path) as f:
            check_codes_snapshot_floor(json.load(f), as_of_gen, what)

    def _probe(self, batch: QueryBatch, n_probe: int, C: np.ndarray):
        """The IVF candidate source: every cell ranked by the squared
        distance of its centroid (``C``) to each query, the ``n_probe``
        nearest being that query's candidate cells. Returns
        ``(cand_map, probed, order, d2)``: qid → its cells, their sorted
        union (the partition-pruning IN-list), and the per-query cell
        ranking and distances (nq × n_cells) that knn's escalation
        bounds reuse."""
        n_probe = max(int(n_probe), 1)  # 0 probes nothing and would silently return empty
        d2 = np.array([((C - qv) ** 2).sum(axis=1) for qv in batch.Q]).reshape(
            len(batch.Q), len(C)
        )
        order = np.argsort(d2, axis=1)
        cand_map = {
            int(qid): frozenset(int(c) for c in row[:n_probe])
            for qid, row in zip(batch.qids, order)
        }
        return cand_map, sorted(set().union(*cand_map.values())), order, d2

    def _probed_codes(self, spark, path, queries, qid_col, qvec_col, n_probe,
                      where, as_of_gen):
        """The compressed legs' candidate source: collect and validate
        the query batch once (``knn.query_batch``, against the centroid
        width), probe its cells (:meth:`_probe`), and restrict both the
        codes table at ``path`` and the raw rerank corpus to the probed
        cells (literal IN-lists → partition pruning); ``where``
        semi-joins the matching ids into the codes scan BEFORE the
        shortlist. Returns (codes, corpus, batch, cand_map, C)."""
        C = self.centroids()
        batch = query_batch(queries, qid_col, qvec_col, C.shape[1])
        cand_map, probed, _, _ = self._probe(batch, n_probe, C)
        in_probed = F.col("cell_id").isin(probed)
        codes = self._codes(spark, path, as_of_gen).drop("_gen").filter(in_probed)
        if where is not None:
            codes = codes.join(
                self._allowed_ids(spark, where, as_of_gen),
                self.id_col, "left_semi",
            )
        corpus = self.read(spark, as_of_gen=as_of_gen).filter(in_probed)
        return codes, corpus, batch, cand_map, C

    def knn(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 4,
        metric: str = "l2sq",
        qid_col: str = "qid",
        qvec_col: str = "qvec",
        where: str | None = None,
        escalate: bool = True,
        as_of_gen: int | None = None,
    ) -> DataFrame:
        """Probe the ``n_probe`` nearest cells per query; partition
        pruning limits the scan to probed cells' directories.
        ``as_of_gen`` searches the snapshot corpus at that pinned
        generation (read(as_of_gen=...) semantics) — centroids and cell
        layout are fixed between compactions, so pruning stays exact.

        The probed cells are the candidate source (:meth:`_probe`): the
        probed rows are scored on the same scan as exact/pruned kNN
        (BLAS slate, sequential re-score in the same task) with a
        per-query cell mask.

        ``where`` is a SQL predicate over the store's metadata columns
        (``build(..., meta_cols=...)`` co-locates them with the
        vectors): the filter is applied to the probed scan itself, so
        Catalyst pushes it to the parquet reader NEXT TO the cell
        pruning — pre-filtering, the 100 TB shape, never
        score-then-discard over unfiltered candidates. Because a
        selective predicate can starve a probe (the k nearest matching
        rows may live outside the probed cells), ``escalate=True``
        re-runs the starved queries with the probe count doubled. A
        query is starved while it has under k rows, OR — for l2sq on a
        store with radius sidecars — while some unprobed cell's
        triangle-inequality bound ``(||q-c|| - r_c)^2`` still
        undercuts its kth distance; with that bound the loop
        terminates only when no unprobed cell can possibly hold a
        closer match, so the escalated result is EXACT filtered kNN
        over the live store, at a scan cost that stays proportional to
        the probed cells. (Other metrics / radius-less stores fall
        back to fill-to-k, which guarantees k rows but not exactness.)
        Driver state stays bounded: the loop inspects at most
        (batch x k) result rows and O(n_cells) bounds per round, never
        corpus rows."""
        # clamp at entry: n_probe=0 must probe one cell, not loop the
        # escalation forever on cur = min(0*2, n_cells) == 0
        n_probe = max(int(n_probe), 1)
        C = self.centroids()
        batch = query_batch(queries, qid_col, qvec_col, C.shape[1])
        cand_map, probed, order, d2 = self._probe(batch, n_probe, C)
        result = self._knn_probe(
            spark, batch, cand_map, probed, k, metric, where, as_of_gen,
        )
        if where is None or not escalate or n_probe >= self.n_cells:
            return result

        import pandas as pd_

        kk = max(int(k), 1)
        radii = self.cell_radii() if metric == "l2sq" else None
        row_of = {int(qid): i for i, qid in enumerate(batch.qids)}

        def still_starved(qid: int, cur: int, counts: dict, kth: dict) -> bool:
            if cur >= self.n_cells:
                return False
            if counts.get(qid, 0) < kk:
                return True
            if radii is None:
                return False
            i = row_of[qid]
            unprobed = order[i, cur:]
            lb = np.maximum(np.sqrt(d2[i, unprobed]) - radii[unprobed], 0.0) ** 2
            # slack keeps the prune conservative against float-sum
            # divergence between the BLAS kth distance and this bound
            kd = kth[qid]
            return bool((lb <= kd * (1.0 + 1e-9) + 1e-12).any())

        out = result.toPandas()  # bounded: <= batch x k rows
        cur = int(n_probe)
        active = set(batch.qids.tolist())
        while cur < self.n_cells and active:
            counts = out.groupby("qid").size().to_dict() if len(out) else {}
            kth = (
                out[out["rnk"] == kk].set_index("qid")["dist"].to_dict()
                if len(out)
                else {}
            )
            active = {
                qid for qid in active if still_starved(qid, cur, counts, kth)
            }
            if not active:
                break
            cur = min(cur * 2, self.n_cells)
            starved_ids = list(active)
            starved = np.isin(batch.qids, starved_ids)
            sub = QueryBatch(batch.qids[starved], batch.Q[starved])
            sub_map, sub_probed, _, _ = self._probe(sub, cur, C)
            sub_out = self._knn_probe(
                spark, sub, sub_map, sub_probed, k, metric, where, as_of_gen,
            ).toPandas()
            out = pd_.concat(
                [out[~out["qid"].isin(starved_ids)], sub_out], ignore_index=True
            )
        return spark.createDataFrame(out, schema=result.schema) if len(out) else result

    def _knn_probe(
        self,
        spark: SparkSession,
        batch: QueryBatch,
        cand_map: dict[int, frozenset],
        probed: list,
        k: int,
        metric: str,
        where: str | None,
        as_of_gen: int | None = None,
    ) -> DataFrame:
        """Exact search over the probed cells (``_probe``'s candidates)."""
        corpus = self.read(spark, as_of_gen=as_of_gen).filter(
            F.col("cell_id").isin(probed)
        )
        if where is not None:
            corpus = corpus.filter(where)
        return _exact_topk(
            corpus, batch, max(int(k), 1), metric, self.id_col, self.vec_col,
            shard_col="cell_id", cand_map=cand_map,
        )
