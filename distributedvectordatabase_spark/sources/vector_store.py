"""Bucketed Parquet vector store — the Spark-native "index".

The reference's index is a RAM-resident FAISS FlatL2 per shard node,
fed by a coordinator that LSH-routes and HTTP-scatters batches
(shard/shard_node.py:42-99, coordinator/coordinator.py:63-109) and
persisted via faiss.write_index (shard/shard_node.py:135-145). Here
the index **is** a Parquet table partitioned by ``shard_id``:

- "index build" = ``assign shard_id → write.partitionBy(shard_id)``;
  the group-by-shard scatter is Spark's exchange (free, parallel,
  retried) instead of a ThreadPoolExecutor of HTTP POSTs;
- "load index" = ``spark.read.parquet(path)`` — shard_id comes back
  as a partition column, so ``shard_id IN (...)`` predicates become
  Catalyst **partition pruning** (directories never read);
- "save index" = already durable; append ingest is an append-mode
  write (the reference's 1000-row batch loop + 1 s pacing,
  load_coco_embeddings.py:38-115, collapses into the writer).

Scale notes: at 100 TB, num_tables stays small (it's a routing
modulus, not a parallelism unit) while *files per shard partition*
carry the parallelism; we repartition by shard_id plus a spread key
so each partition directory holds many similarly-sized files and no
single task owns a whole shard.

Deviation (SURVEY §4): auto-generated IDs are globally unique
(max_id + monotonic offset), not the reference's per-shard counters
which collide across shards (shard/shard_node.py:49,77-80).

Beyond the reference (which has no delete/update endpoint —
coordinator_server.py exposes only add_vectors/search/stats):
merge-on-read DELETE/UPSERT, the operation a training-data store
needs for take-downs. Every written row carries a ``_gen``
generation; ``delete()`` appends (id, gen) tombstones to the hidden
``_tombstones/`` sidecar (underscore-prefixed, so Spark's file index
never scans it as data); ``read()`` drops a row when a tombstone for
its id has gen >= the row's — one broadcast join of a tiny
aggregated tombstone table above the scan, so shard partition
pruning and filter pushdown are unaffected. ``compact()`` folds
tombstones in physically and clears them. The generation commit
protocol (append intent and commit, delete gen burn, compact swap) is
``tombstones.GenerationalStore``'s, over the ``_lsh.json`` sidecar.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributedvectordatabase_spark.functions.lsh import SignLSH
from distributedvectordatabase_spark.sources.scan_cache import cached_parquet
from distributedvectordatabase_spark.sources.tombstones import (
    GenerationalStore,
    atomic_dump_json,
    locked_writer,
)
from distributedvectordatabase_spark.functions.vector import l2sq


class DimensionMismatchError(ValueError):
    """Reference semantics: inserting a wrong-dimension vector is an
    error (shard/shard_node.py:72-74)."""


class VectorTable(GenerationalStore):
    """The read/delete surface shared by the two vector stores: rows
    keyed by ``id_col`` in one parquet table at ``self.path``, plus
    codes sidecar tables whose rows carry the raw rows' ``_gen``."""

    @property
    def _key(self) -> str:
        return self.id_col

    def _read_live(self, spark: SparkSession) -> DataFrame:
        """All live rows, ``_gen`` retained (internal; read() drops it).

        The tombstone side aggregates to one row per deleted id and is
        broadcast — deletes are rare relative to the corpus, and the
        join sits ABOVE the scan, so partition pruning and predicate
        pushdown on the store side are unaffected. If tombstones ever
        grow large, compact() folds them away.
        """
        return self._visible(spark, cached_parquet(spark, self.path))

    def read(self, spark: SparkSession, as_of_gen: int | None = None) -> DataFrame:
        return self._visible(
            spark, cached_parquet(spark, self.path), as_of_gen
        ).drop("_gen")

    def _codes(
        self, spark: SparkSession, path: str, as_of_gen: int | None = None
    ) -> DataFrame:
        """A codes sidecar's committed rows at ``path``, tombstone-filtered
        live or reconstructed as-of."""
        return self._visible(spark, cached_parquet(spark, path), as_of_gen)

    def _allowed_ids(
        self, spark: SparkSession, where: str, as_of_gen: int | None
    ) -> DataFrame:
        """(id) rows matching a metadata predicate — one pass over the
        store's own table (predicate + id column push to the raw scan),
        semi-joined into a compressed codes scan BEFORE its shortlist
        (the ``bm25_batch(allowed_ids=)`` hard-constraint contract)."""
        return (
            self.read(spark, as_of_gen=as_of_gen)
            .filter(where)
            .select(self.id_col)
        )

    @locked_writer
    def delete_where(self, spark: SparkSession, predicate) -> int:
        """Predicate delete (retention sweeps, policy take-downs):
        tombstone every LIVE row matching ``predicate`` (a Column or a
        SQL string, typically over co-located metadata columns).
        Returns the number of ids tombstoned. One scan to find the ids;
        the delete itself stays O(deleted)."""
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        # pin the matching ids BEFORE tombstoning: the tombstone write
        # must not re-execute a plan that reads the tombstone dir it is
        # appending to (self-referential read-under-write)
        ids = (
            self.read(spark)
            .filter(cond)
            .select(self.id_col)
            .localCheckpoint(eager=True)
        )
        n = ids.count()
        if n:
            self.delete(spark, ids)
        return n


class VectorStore(VectorTable):
    _SIDECAR = "_lsh.json"
    _LISTS_INTENT_FIELDS = True
    _lsh_config = GenerationalStore._config

    def __init__(
        self,
        path: str,
        lsh: SignLSH | None = None,
        id_col: str | None = None,
        vec_col: str | None = None,
        files_per_shard: int = 4,
    ):
        self.path = path
        # The store's LSH config (projection seed/shape) determines the
        # on-disk shard assignment, so on reopen the persisted sidecar
        # is authoritative: a default-constructed SignLSH against a
        # store built with different parameters would silently bucket
        # queries wrong (the TextIndex reopen bug class). An EXPLICIT
        # lsh argument still wins — callers who pass one own the match.
        cfg = {}
        if lsh is None or id_col is None or vec_col is None:
            cfg = self._config()
        if lsh is None and cfg:
            lsh = SignLSH(
                dim=int(cfg["dim"]),
                num_fns=int(cfg["num_fns"]),
                num_tables=int(cfg["num_tables"]),
                seed=int(cfg["seed"]),
            )
        self.lsh = lsh or SignLSH()
        self.id_col = id_col or cfg.get("id_col", "vec_id")
        self.vec_col = vec_col or cfg.get("vec_col", "embedding")
        self.files_per_shard = files_per_shard

    # underscore-prefixed entries are invisible to spark.read.parquet
    # on self.path, so the SQ8 codes table and its bounds sidecar can
    # live inside the store directory without polluting the raw scan
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

    def _config_fields(self) -> dict:
        return {
            "dim": self.lsh.dim,
            "num_fns": self.lsh.num_fns,
            "num_tables": self.lsh.num_tables,
            "seed": self.lsh.seed,
            "id_col": self.id_col,
            "vec_col": self.vec_col,
        }

    def _write_lsh_config(self, gen: int | None = None, **extras) -> None:
        """Persist the sidecar with the LSH fields refreshed from self,
        the given ``gen`` (default: unchanged) and ``extras``; other
        fields are preserved."""
        cfg = self._lsh_config()
        cfg.update(self._config_fields())
        cfg["gen"] = int(cfg.get("gen", 0) if gen is None else gen)
        cfg.update(extras)
        self._dump(cfg)

    # -- ingest -------------------------------------------------------------

    def _prepare(self, df: DataFrame, validate_dim: bool, gen: int = 1) -> DataFrame:
        """``validate_dim`` is free: the bucketing pandas_udf checks the
        vector length in-flight (SignLSH.bucket_udf), so validation
        costs zero extra scans — the old eager form pre-scanned the
        whole input once before writing. ``validate_dim=True`` only
        controls whether the worker error is surfaced as
        DimensionMismatchError by write()/append()."""
        if self.id_col not in df.columns:
            df = df.withColumn(self.id_col, F.monotonically_increasing_id())
        df = df.withColumn("_gen", F.lit(int(gen)))
        out = self.lsh.assign(df, vec_col=self.vec_col, out="shard_id")
        # Spread each shard over several writer tasks so one task never
        # owns a whole shard directory (skew + parallelism at scale).
        # files_per_shard is a MINIMUM: with few shards (the reference
        # default is 3 tables) a fixed 3×4=12-way fan-in leaves most of
        # the cluster idle and each task's working set grows with the
        # input (the 2M-row scale probe showed superlinear ingest —
        # 6.4× time for 4× rows). Scaling the spread to ~2 waves of the
        # cluster's cores keeps tasks bounded; layout varies with
        # parallelism but content (shard_id assignment) does not, and
        # compact() restores files_per_shard files per shard whenever
        # the file count matters more than ingest speed.
        parallelism = out.sparkSession.sparkContext.defaultParallelism
        spread_n = max(
            self.files_per_shard,
            -(-2 * parallelism // max(self.lsh.num_tables, 1)),
        )
        spread = (F.abs(F.hash(self.id_col)) % spread_n).alias("_spread")
        return out.repartition(
            self.lsh.num_tables * spread_n, F.col("shard_id"), spread
        )

    @property
    def _sink_log_path(self) -> str:
        return os.path.join(self.path, "_spark_metadata")

    def _write(self, df: DataFrame, mode: str, validate_dim: bool) -> None:
        if mode == "append" and os.path.exists(self._sink_log_path):
            # FileStreamSink stores a transaction log; once present,
            # batch reads list ONLY sink-logged files, so a batch
            # append here would write rows no read can ever see
            raise ValueError(
                "store is an active streaming sink (_spark_metadata "
                "present): batch-appended files would be invisible to "
                "reads; run compact(spark) to finalize the sink first"
            )
        if mode == "append" and os.path.exists(self._sidecar_path):
            raw = df.sparkSession.read.parquet(self.path)
            if "_gen" not in raw.columns:
                raise ValueError(
                    "store predates delete support (no _gen column); run "
                    "compact(spark) once to upgrade before appending"
                )
        # an overwrite drops the whole store dir, sidecar included, so
        # only an append persists a write intent first
        gen = self._begin_append() if mode == "append" else self._rebuild_gen()
        # keep the SQ8 codes sidecar in sync on append: pin the
        # prepared batch so the raw write and the codes write see the
        # SAME rows (a non-deterministic input recomputed per write
        # would let the two tables silently diverge — the IVFStore
        # append contract). A static overwrite drops the whole store
        # dir, sidecars included, so only append needs the sync.
        sync_sq = mode == "append" and os.path.exists(self._sq_params_path)
        try:
            out = self._prepare(df, validate_dim, gen=gen)
            if sync_sq:
                out = out.cache()
            out.write.mode(mode).partitionBy("shard_id").parquet(self.path)
            # the commit must land BEFORE the SQ encode below: if that
            # second write fails, _gen (g+1) != the SQ synced gen (g)
            # and knn_sq's staleness guard trips — committing after
            # would leave both at g and the guard would pass on codes
            # missing these rows
            self._commit(gen)
            if sync_sq:
                from distributedvectordatabase_spark.operators.sq import sq_encode

                try:
                    # encoded with the EXISTING bounds (standard SQ
                    # ingest — out-of-range values saturate; periodic
                    # build_sq refresh is a caller policy). Not atomic
                    # with the raw write: if this fails, the staleness
                    # guard refuses knn_sq until build_sq regenerates
                    # the codes from raw (derived data).
                    (
                        sq_encode(out, self.sq_params(), id_col=self.id_col,
                                  vec_col=self.vec_col,
                                  keep_cols=("shard_id", "_gen"))
                        .write.mode("append")
                        .partitionBy("shard_id")
                        .parquet(self._sq_path)
                    )
                finally:
                    out.unpersist()
                self._record_codes_gen(self._sq_params_path, gen)
        except Exception as e:  # surface the in-flight dim check typed
            if validate_dim and "dimension mismatch" in str(e):
                raise DimensionMismatchError(
                    f"vector dimension mismatch: expected {self.lsh.dim}"
                ) from e
            raise

    @locked_writer
    def write(self, df: DataFrame, mode: str = "overwrite", validate_dim: bool = True) -> None:
        """Build (or rebuild) the index: bucket + partitioned write."""
        self._write(df, mode, validate_dim)

    @locked_writer
    def append(self, df: DataFrame, validate_dim: bool = True) -> None:
        """Append ingest (reference add_vectors); auto-IDs continue past
        the current max id, globally unique."""
        spark = df.sparkSession
        if self.id_col not in df.columns and os.path.exists(self.path):
            # max over the RAW rows plus tombstoned ids — a deleted id
            # must never be reissued (its tombstone would silently kill
            # the new row)
            from distributedvectordatabase_spark.sources.tombstones import (
                max_tombstoned_id,
            )

            start = (
                spark.read.parquet(self.path).agg(F.max(self.id_col)).first()[0]
                or 0
            )
            start = max(
                start, max_tombstoned_id(spark, self._tombstone_path, self.id_col)
            )
            df = df.withColumn(
                self.id_col, F.monotonically_increasing_id() + F.lit(start + 1)
            )
        self._write(df, "append", validate_dim)

    @locked_writer
    def compact(self, spark: SparkSession) -> None:
        """Rewrite the store into ``files_per_shard`` files per shard.

        Streaming / repeated append ingest leaves one file per
        (micro-batch, writer task) — at 100 TB that means millions of
        small files, and open/footer overhead starts to dominate scan
        time. Compaction restores the build-time layout: read,
        repartition on (shard_id, spread), rewrite. The new copy is
        fully materialized in a sibling directory before the old one is
        removed, so a failed compaction never loses the store.

        Also folds tombstones in: only live rows are rewritten (with
        their ``_gen``), and the swap drops the ``_tombstones/``
        sidecar with the old directory — physical deletion happens
        here, exactly like merge-on-read table formats.

        On a store fed by ``stream_ingest_vectors`` this additionally
        FINALIZES the streaming sink: the ``_spark_metadata``
        transaction log is not carried over, so the store leaves the
        sink era (batch append/upsert become legal) and the finished
        stream cannot be resumed into it — by design, since a resumed
        sink's fresh log would hide the compacted files."""
        import shutil

        spread = (F.abs(F.hash(self.id_col)) % self.files_per_shard).alias("_spread")
        with self._compaction() as tmp:
            (
                self._read_live(spark)
                .repartition(self.lsh.num_tables * self.files_per_shard, F.col("shard_id"), spread)
                .write.mode("overwrite")
                .partitionBy("shard_id")
                .parquet(tmp)
            )
            # carry the SQ8 and binary sidecars, folding tombstones into
            # each codes table the same way the raw rewrite above does
            # (the swap IS the physical delete for every table)
            for codes, params in ((self._sq_path, self._sq_params_path),
                                  (self._bq_path, self._bq_params_path)):
                if os.path.exists(params):
                    (
                        self._codes(spark, codes)
                        .write.mode("overwrite")
                        .partitionBy("shard_id")
                        .parquet(os.path.join(tmp, os.path.basename(codes)))
                    )
                    shutil.copy(params, os.path.join(tmp, os.path.basename(params)))

    # -- delete / upsert ----------------------------------------------------

    @locked_writer
    def delete(self, spark: SparkSession, ids) -> None:
        """Merge-on-read delete (:meth:`GenerationalStore.delete`). It
        never desyncs the codes tables (both sides filter the same
        tombstones at read), so their sidecars stay current at the
        delete's gen."""
        gen = self._tombstone(spark, ids)
        for params in (self._sq_params_path, self._bq_params_path):
            if os.path.exists(params):
                self._record_codes_gen(params, gen)

    @staticmethod
    def _record_codes_gen(params_path: str, gen: int) -> None:
        """Stamp a codes sidecar (SQ8 or binary) as synced to ``gen``."""
        with open(params_path) as f:
            side = json.load(f)
        side["gen"] = int(gen)
        atomic_dump_json(params_path, side)

    @locked_writer
    def upsert(self, df: DataFrame, validate_dim: bool = True) -> None:
        """Replace-by-id: tombstone the incoming ids, then append the
        new rows (their write gen is strictly greater than the delete
        gen, so they survive the tombstone). Ids absent from the store
        insert cleanly — the stray tombstones match nothing."""
        if self.id_col not in df.columns:
            raise ValueError(f"upsert requires an explicit {self.id_col!r} column")
        self.delete(df.sparkSession, df.select(self.id_col))
        self._write(df, "append", validate_dim)

    # -- SQ8 compressed sidecar ---------------------------------------------

    @locked_writer
    def build_sq(self, spark: SparkSession) -> None:
        """Build (or rebuild) the SQ8 codes sidecar: exact per-dim
        min/max bounds over the live rows, then one encode scan into a
        shard-partitioned ``_sq/`` table (1 byte/dim — 8× under the
        float64 arrays). knn_sq() then scans an 8× smaller table with
        the same LSH partition pruning as the raw path and rescored
        shortlists probing the raw vectors only."""
        from distributedvectordatabase_spark.operators.sq import sq_encode, sq_train

        if os.path.exists(self._sink_log_path):
            raise ValueError(
                "store is an active streaming sink (_spark_metadata "
                "present); run compact(spark) to finalize it before build_sq"
            )
        live = self._read_live(spark)
        params = sq_train(live, vec_col=self.vec_col)
        (
            sq_encode(live, params, id_col=self.id_col, vec_col=self.vec_col,
                      keep_cols=("shard_id", "_gen"))
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .parquet(self._sq_path)
        )
        atomic_dump_json(
            self._sq_params_path,
            # built_gen: the snapshot floor — rows deleted before this
            # build are physically absent from the codes (r9)
            {**params.to_dict(), "gen": self._gen(), "built_gen": self._gen()},
        )

    def sq_params(self):
        from distributedvectordatabase_spark.operators.sq import SQParams

        with open(self._sq_params_path) as f:
            return SQParams.from_dict(json.load(f))

    def _sq_codes(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> DataFrame:
        return self._codes(spark, self._sq_path, as_of_gen)

    def _check_codes_gens(
        self, side_gen: int, as_of_gen: int | None, side: dict, what: str
    ) -> None:
        """Shared staleness/snapshot validation for the SQ/BQ legs: a
        LIVE read requires codes synced to the store head; a SNAPSHOT
        read only requires codes synced AT LEAST to the pinned gen
        (rows at gens ≤ as_of_gen are all present) plus the build-time
        floor (rows deleted before the build never reached the codes —
        tombstones.check_codes_snapshot_floor)."""
        from distributedvectordatabase_spark.sources.tombstones import (
            check_codes_snapshot_floor,
        )

        if as_of_gen is None:
            if side_gen != self._gen():
                raise ValueError(
                    f"{what} codes are stale: the store was written without "
                    f"a codes sync since the last build_{what}; re-run "
                    f"build_{what}(spark)"
                )
            return
        check_codes_snapshot_floor(side, as_of_gen, what)
        if int(as_of_gen) > side_gen:
            raise ValueError(
                f"{what} codes are synced through gen {side_gen} and cannot "
                f"serve a snapshot at gen {as_of_gen}; re-run "
                f"build_{what}(spark)"
            )

    def knn_sq(self, spark: SparkSession, queries: DataFrame, k: int = 10,
               rerank: int = 0, pruned: bool = True, num_candidates: int = 2,
               qid_col: str = "qid", qvec_col: str = "qvec",
               where: str | None = None,
               as_of_gen: int | None = None) -> DataFrame:
        """Top-k over the SQ8 codes instead of the raw vectors — same
        LSH multi-probe pruning as knn(pruned=True) (candidate shards
        become partition-pruning predicates + per-query Arrow masks on
        the codes scan), but the scan reads 1 byte/dim. ``rerank=R``
        exact-rescored the R·k shortlist against the raw store (the
        FAISS refine pattern) — at 100 TB the raw floats are touched
        only for the ≤ nq·R·k shortlist ids.

        ``where`` (r9) filters with a SQL predicate over the RAW
        store's columns: matching ids are read once off the raw scan
        (predicate + id column pushed) and semi-joined into the codes
        scan BEFORE the shortlist cut — filter-then-rank, never
        score-then-discard, with the store-global trained bounds (a
        filter narrows candidates, it does not retrain the quantizer —
        the bm25_batch(allowed_ids=) contract). Shard partition
        pruning on the codes scan is unaffected (the semi-join sits
        above it). Results are a hard-constrained top-k among matching
        rows; exact filtered kNN at full budget (pinned in tests).

        ``as_of_gen`` (r9) serves the snapshot corpus at that pinned
        generation: codes rows carry the raw rows' ``_gen`` (build and
        the append sync both keep it), so the same
        ``tombstones.filter_as_of`` reconstruction applies to the
        codes scan, and the rerank probes the snapshot raw rows. Two
        validity bounds, both raising explicitly: the sidecar's
        ``built_gen`` floor (rows deleted before the build never
        reached the codes) and the sync horizon (the snapshot must be
        covered by synced codes)."""
        if not os.path.exists(self._sq_params_path):
            raise ValueError("no SQ sidecar: run build_sq(spark) first")
        with open(self._sq_params_path) as f:
            side = json.load(f)
        self._check_codes_gens(int(side.get("gen", 0)), as_of_gen, side, "sq")
        from distributedvectordatabase_spark.operators.sq import sq_search

        codes, batch, cand_map = self._probed_codes(
            spark, self._sq_path, queries, qid_col, qvec_col,
            pruned, num_candidates, where, as_of_gen,
        )
        return sq_search(
            codes, self.sq_params(), batch, k=k, id_col=self.id_col,
            rerank=rerank,
            corpus=self.read(spark, as_of_gen=as_of_gen) if rerank else None,
            vec_col=self.vec_col,
            shard_col="shard_id" if pruned else None, cand_map=cand_map,
        )

    def _probed_codes(self, spark, path, queries, qid_col, qvec_col,
                      pruned, num_candidates, where, as_of_gen):
        """The compressed legs' candidate source: collect and validate the
        query batch once (``knn.query_batch``, against ``lsh.dim``); with
        ``pruned``, its LSH candidate shards become a literal IN-list on
        the codes table at ``path`` (Catalyst partition pruning) plus the
        per-query ``cand_map`` mask; ``where`` semi-joins the matching ids
        into the codes scan BEFORE the shortlist. Returns
        (codes, batch, cand_map)."""
        from distributedvectordatabase_spark.operators.knn import (
            lsh_candidates,
            query_batch,
        )

        codes = self._codes(spark, path, as_of_gen)
        batch = query_batch(queries, qid_col, qvec_col, self.lsh.dim)
        cand_map = None
        if pruned:
            cand_map, shards = lsh_candidates(self.lsh, batch, num_candidates)
            codes = codes.filter(F.col("shard_id").isin(shards))
        if where is not None:
            codes = codes.join(
                self._allowed_ids(spark, where, as_of_gen),
                self.id_col, "left_semi",
            )
        return codes, batch, cand_map

    # -- binary (1-bit) compressed sidecar ----------------------------------

    _BQ_KEEP = object()  # build_bq default: adopt the persisted config

    @locked_writer
    def build_bq(self, spark: SparkSession, n_bits=_BQ_KEEP,
                 seed=_BQ_KEEP, normalize=_BQ_KEEP) -> None:
        """Build (or rebuild) the binary codes sidecar: one projection
        scan packs each vector's sign bits into ceil(dim/32) bigint
        words (operators/bq.py), written as a shard-partitioned
        ``_bq/`` table — 64× fewer scan bytes than the float64 arrays,
        the cheapest first-pass scan on the compression ladder.

        Unlike SQ8 there are NO trained parameters (the pack is a pure
        function of the raw vector), so this sidecar deliberately has
        no append-sync path: a batch append bumps the store generation,
        knn_bq's staleness guard trips, and the fix is re-running this
        one cheap scan — simpler than the SQ bounds-sync machinery for
        a sidecar that costs a projection to regenerate.

        ``n_bits=B`` switches to B seeded sign-random-projections
        (super-bit codes) instead of raw-dimension signs — the scale
        path: identity signs give only dim+1 Hamming levels, which
        drowns the shortlist in ties at corpus scale (BASELINE.md:
        recall 0.16 at 500k×64-D identity vs 0.8+ at B=256). The
        (n_bits, seed) pair is persisted in the sidecar config and is
        AUTHORITATIVE at query time — knn_bq encodes queries from it,
        never from caller arguments, so a store reopened elsewhere
        cannot mis-encode (the r4 TextIndex reopen bug class). For the
        same reason a REBUILD with default arguments keeps the
        persisted config — a post-append refresh cannot silently
        switch a 256-bit store back to identity codes; pass n_bits
        explicitly to change the encoding.

        ``normalize=True`` declares the store's BQ domain NORMALIZED
        (cosine): knn_bq then reranks by cosine distance by default,
        so the angular Hamming shortlist and the final metric agree —
        the corpus where 1-bit codes actually earn their 64×
        (BASELINE.md: recall collapses when Hamming's angular order
        scores an L2 oracle on non-normalized data). The flag is
        persisted and reopen-authoritative like (n_bits, seed). It
        does NOT re-scale the stored codes: ``sign(x@R) ==
        sign((x/|x|)@R)``, so sign codes are scale-invariant by
        construction and no normalization pass (or persisted norm
        column) is needed — the flag changes what the RERANK means,
        which is the only place a norm could matter."""
        from distributedvectordatabase_spark.operators.bq import bq_encode

        if os.path.exists(self._sink_log_path):
            raise ValueError(
                "store is an active streaming sink (_spark_metadata "
                "present); run compact(spark) to finalize it before build_bq"
            )
        prev = {}
        if os.path.exists(self._bq_params_path):
            with open(self._bq_params_path) as f:
                prev = json.load(f)
        if n_bits is VectorStore._BQ_KEEP:
            n_bits = prev.get("n_bits")
        if seed is VectorStore._BQ_KEEP:
            seed = prev.get("seed", 42)
        if normalize is VectorStore._BQ_KEEP:
            normalize = bool(prev.get("normalize", False))
        live = self._read_live(spark)
        (
            bq_encode(live, self.lsh.dim, vec_col=self.vec_col,
                      n_bits=n_bits, seed=seed)
            .select(self.id_col, "bq_code", "shard_id", "_gen")
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .parquet(self._bq_path)
        )
        atomic_dump_json(
            self._bq_params_path,
            {"dim": self.lsh.dim, "gen": self._gen(),
             "n_bits": n_bits, "seed": int(seed),
             "normalize": bool(normalize),
             # snapshot floor: rows deleted before this build are
             # physically absent from the codes (r9)
             "built_gen": self._gen()},
        )

    def knn_bq(self, spark: SparkSession, queries: DataFrame, k: int = 10,
               rerank: int = 2, pruned: bool = True, num_candidates: int = 2,
               qid_col: str = "qid", qvec_col: str = "qvec",
               metric: str | None = None,
               where: str | None = None,
               as_of_gen: int | None = None) -> DataFrame:
        """Top-k via the binary sidecar: Hamming shortlist of
        ``rerank·k`` candidates over the 1-bit codes (with the same LSH
        multi-probe pruning as knn(pruned=True): a literal shard
        IN-list prunes partitions, per-query shard sets mask inside the
        fan-out), then exact rerank against the raw store — rerank is
        mandatory because sign bits alone carry no usable distance
        scale. Returns (qid, neighbor_id, dist, rnk) like knn(); at
        full budget over an unpruned scan it EQUALS exact kNN in the
        same metric (pinned in tests).

        ``metric=None`` adopts the store's persisted domain: a
        ``build_bq(normalize=True)`` store reranks by cosine (the
        honest pairing — the Hamming shortlist is angular by
        construction), others by squared L2. Pass ``"l2sq"``/
        ``"cosine"`` to override per call.

        ``where`` / ``as_of_gen`` (r9): filtered and snapshot serving
        on the 1-bit leg, same contracts as :meth:`knn_sq` — matching
        ids semi-join into the codes scan BEFORE the Hamming shortlist
        (hard constraint, partition pruning unaffected), and snapshot
        reads reconstruct codes-as-of via the rows' ``_gen`` subject to
        the ``built_gen`` floor and the sync horizon (for this
        rebuild-don't-sync sidecar the two coincide)."""
        if not os.path.exists(self._bq_params_path):
            raise ValueError("no binary sidecar: run build_bq(spark) first")
        from distributedvectordatabase_spark.operators.bq import bq_search

        with open(self._bq_params_path) as f:
            side = json.load(f)
        self._check_codes_gens(int(side.get("gen", 0)), as_of_gen, side, "bq")
        if metric is None:
            metric = "cosine" if side.get("normalize") else "l2sq"
        codes, batch, shard_map = self._probed_codes(
            spark, self._bq_path, queries, qid_col, qvec_col,
            pruned, num_candidates, where, as_of_gen,
        )
        # the persisted (n_bits, seed) are authoritative: queries MUST
        # be encoded exactly like the stored codes were
        return bq_search(
            codes, batch, self.read(spark, as_of_gen=as_of_gen), self.lsh.dim,
            k=k, rerank=rerank, metric=metric, id_col=self.id_col,
            vec_col=self.vec_col, n_bits=side.get("n_bits"),
            seed=int(side.get("seed", 42)), shard_map=shard_map,
        )

    # -- read / query -------------------------------------------------------

    def knn(self, spark: SparkSession, queries: DataFrame, k: int = 10, pruned: bool = True,
            num_candidates: int = 2, metric: str = "l2sq",
            as_of_gen: int | None = None, **kw) -> DataFrame:
        """``as_of_gen`` searches the snapshot corpus at that pinned
        generation (read(as_of_gen=...) semantics) — shard layout and
        LSH config are immutable across gens, so pruning stays exact.
        A query whose length is not ``lsh.dim`` raises ``ValueError``."""
        from distributedvectordatabase_spark.operators.knn import knn, knn_pruned

        corpus = self.read(spark, as_of_gen=as_of_gen)
        if pruned:
            return knn_pruned(
                corpus, queries, self.lsh, k=k, num_candidates=num_candidates,
                metric=metric, id_col=self.id_col, vec_col=self.vec_col, **kw,
            )
        return knn(corpus, queries, k=k, metric=metric,
                   id_col=self.id_col, vec_col=self.vec_col, dim=self.lsh.dim, **kw)

    # -- stats (reference get_stats / get_system_stats) ---------------------

    def shard_stats(self, spark: SparkSession) -> DataFrame:
        """Per-shard stats record (reference shard/shard_node.py:147-185,
        minus the zero-vector 'sample ids' bug — we report id bounds)."""
        bytes_per_vec = 4 * self.lsh.dim  # float32 storage
        return (
            self.read(spark)
            .groupBy("shard_id")
            .agg(
                F.count("*").alias("total_vectors"),
                F.lit(self.lsh.dim).alias("dimension"),
                F.min(self.id_col).alias("min_id"),
                F.max(self.id_col).alias("max_id"),
            )
            .withColumn(
                "memory_usage_mb",
                F.round(F.col("total_vectors") * F.lit(bytes_per_vec) / (1024.0 * 1024.0), 6),
            )
            .orderBy("shard_id")
        )

    def system_stats(self, spark: SparkSession) -> DataFrame:
        """Global roll-up (reference coordinator_server.py:53-58)."""
        return self.shard_stats(spark).agg(
            F.sum("total_vectors").alias("total_vectors"),
            F.count("*").alias("num_shards"),
            F.max("dimension").alias("dimension"),
        )
