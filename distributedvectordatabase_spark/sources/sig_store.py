"""Persistent MinHash signature store for incremental near-dup curation.

`operators/dedup.minhash_neardup_join` recomputes the CORPUS side's
tokens + signatures + bands on every batch — right for a one-shot
audit, wrong for the steady-state curation loop ("is this ingest batch
already in the training set?") where the corpus is large and stable
and batches are small. SigStore is the "build once, join many" form,
the dedup mirror of sources/text_index.TextIndex (postings → term
buckets; here band rows → band-key buckets):

- **build**: one pass tokenizes (optionally shingles) the corpus,
  computes the bands·rows salted-md5 MinHash signature, and persists
  TWO tables: the exploded ``(doc_id, band, band_key)`` band rows,
  parquet ``partitionBy(bucket)`` where ``bucket = xxhash64(band,
  band_key) mod n_buckets``; and the ``(doc_id, toks, sz)`` token sets
  the exact-Jaccard verification needs. A config sidecar records
  bands/rows/shingle_n/n_buckets — the persisted values are
  authoritative on reopen (a mismatched constructor default must not
  silently prune the wrong partitions).
- **join_batch**: the new batch's signatures are computed in-session
  (it is small); its band keys' bucket set becomes a literal
  ``bucket IN (...)`` predicate, so the candidate join scans only the
  corpus band partitions the batch can possibly collide with — a
  10-doc batch against a 32-bucket store touches ≤ 40/32·bands rows'
  partitions, not the corpus. Verification reads the persisted token
  sets for candidate corpus ids only. Results are row-identical to
  ``minhash_neardup_join(batch, corpus, ...)`` (pinned in
  tests/test_sig_store.py) — the store changes WHERE the corpus work
  happens (once, at build), never WHAT is computed.
- **append**: new corpus rows band + tokenize into the same bucketed
  layout; after append, join_batch is indistinguishable from a fresh
  build over the union (same contract as TextIndex.append).
- **delete / compact**: merge-on-read take-downs through
  ``tombstones.GenerationalStore`` over the ``_config.json`` sidecar.
  A deleted document stops
  generating near-dup candidate pairs immediately (both the band
  rows and the verification token sets filter live), O(deleted)
  bytes written; ``compact()`` folds the tombstones in physically.
  Without this, a policy take-down (PII/DMCA) would keep colliding
  with every future ingest batch until a full rebuild — the
  compliance hole the vector stores already closed.

At 100 TB: band rows are ~bands × corpus rows of short strings
(dictionary-encoded parquet); the build's only shuffle is the
bucketed write; each batch join shuffles O(batch·bands) keys and the
candidate pairs, never the corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributedvectordatabase_spark.operators.dedup import (
    _band_explode,
    minhash_signatures,
    tokenized,
)
from distributedvectordatabase_spark.sources.tombstones import (
    GEN_COL,
    StreamedStore,
    locked_writer,
)

__all__ = ["SigStore"]


class SigStore(StreamedStore):
    _SIDECAR = "_config.json"
    _LISTS_INTENT_FIELDS = True

    def __init__(
        self,
        path: str,
        bands: int = 4,
        rows: int = 3,
        shingle_n: int | None = None,
        n_buckets: int = 32,
    ):
        self.path = path
        self.bands = int(bands)
        self.rows = int(rows)
        self.shingle_n = shingle_n
        self.n_buckets = int(n_buckets)
        if os.path.exists(self._sidecar_path):
            self._adopt(self._config())

    @property
    def _bands_path(self) -> str:
        return os.path.join(self.path, "bands")

    @property
    def _toks_path(self) -> str:
        return os.path.join(self.path, "toks")

    def _config_fields(self) -> dict:
        return {
            "bands": self.bands,
            "rows": self.rows,
            "shingle_n": self.shingle_n,
            "n_buckets": self.n_buckets,
        }

    def _adopt(self, cfg: dict) -> None:
        """The persisted band/row/shingle/bucket parameters are the only
        ones the stored signatures were computed with; adopt them so a
        reopened store never hashes or prunes inconsistently."""
        self.bands = int(cfg["bands"])
        self.rows = int(cfg["rows"])
        self.shingle_n = cfg["shingle_n"]
        self.n_buckets = int(cfg["n_buckets"])

    def _bucket(self):
        return F.pmod(
            F.xxhash64(F.col("band"), F.col("band_key")), F.lit(self.n_buckets)
        ).cast("int")

    def _prepared(self, docs: DataFrame, id_col: str, text_col: str):
        """(toks df, bucketed band df) for any document set — build,
        append, and the batch side of join_batch all share it."""
        toks = tokenized(docs, text_col, id_col, shingle_n=self.shingle_n)
        sigs = minhash_signatures(toks, self.bands * self.rows)
        banded = _band_explode(sigs, self.bands, self.rows).withColumn(
            "bucket", self._bucket()
        )
        return toks, banded

    # ------------------------------------------------------------------
    @locked_writer
    def build(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        ingest_batch: int | None = None,
    ) -> None:
        """Index ``docs`` from scratch. A build over an existing store
        starts a fresh history: its rows restart at gen 1, so the old
        tombstones and sidecar protocol fields go."""
        self._fresh_history()
        toks, banded = self._prepared(docs, id_col, text_col)
        (
            banded.withColumn(GEN_COL, F.lit(1))
            .repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(self._bands_path)
        )
        toks.withColumn("sz", F.size("toks")).withColumn(
            GEN_COL, F.lit(1)
        ).write.mode("overwrite").parquet(self._toks_path)
        # write gen only AFTER the data lands (a crashed build burns
        # nothing — there is no config yet; the streaming batch id
        # rides the same dump)
        cfg = self._config_fields()
        cfg["gen"] = 1
        if ingest_batch is not None:
            cfg["ingest_batch"] = int(ingest_batch)
        self._dump(cfg)

    @locked_writer
    def append(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        ingest_batch: int | None = None,
    ) -> None:
        """Index additional corpus documents incrementally. Caller owns
        doc-id uniqueness (same contract as TextIndex.append).

        Crash-atomic (the GenerationalStore two-phase protocol): a
        write intent persists before the data jobs; one final config
        dump commits the gen and (for ``stream_neardup_ingest``) the
        ``ingest_batch`` marker together. A crash mid-append leaves
        band/token orphans invisible to every join until the next
        writer heals them."""
        self._adopt(self._config())
        gen = self._begin_append()
        toks, banded = self._prepared(docs, id_col, text_col)
        (
            banded.withColumn(GEN_COL, F.lit(gen))
            .repartition("bucket")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(self._bands_path)
        )
        toks.withColumn("sz", F.size("toks")).withColumn(
            GEN_COL, F.lit(gen)
        ).write.mode("append").parquet(self._toks_path)
        self._commit(gen, ingest_batch)

    # -- delete / compact ---------------------------------------------------

    @locked_writer
    def compact(self, spark: SparkSession) -> None:
        """Fold tombstones in physically: rewrite only live band/token
        rows (keeping their ``_gen``), then swap — the new copy is
        fully materialized in a sibling directory before the old one
        is removed, so a failed compaction never loses the store.

        Since r7 the ``stream_neardup_ingest`` committed-batch marker
        rides the config sidecar (``ingest_batch``), which the rewrite
        carries — so compacting a streamed store is resume-safe: a
        resumed or fresh-checkpoint stream still skips every committed
        batch. (Pre-r7 stores kept the marker in a separate
        ``_ingest_marker.json``, which compaction dropped — the
        streaming reader still honors that legacy file as a floor.)"""
        self._adopt(self._config())
        with self._compaction() as tmp:
            (
                self._visible(spark, self.corpus_bands(spark))
                .repartition("bucket")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(os.path.join(tmp, "bands"))
            )
            self._visible(spark, self.corpus_toks(spark)).write.mode(
                "overwrite"
            ).parquet(os.path.join(tmp, "toks"))

    def corpus_bands(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._bands_path)

    def corpus_toks(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._toks_path)

    # ------------------------------------------------------------------
    def join_batch(
        self,
        new_docs: DataFrame,
        *,
        threshold: float,
        id_col: str = "doc_id",
        text_col: str = "text",
        as_of_gen: int | None = None,
    ) -> DataFrame:
        """(new_id, corpus_id, jaccard ≥ threshold) — row-identical to
        ``minhash_neardup_join(new_docs, corpus, ...)`` with the same
        bands/rows/shingle_n, but the corpus work is a pruned read of
        the persisted tables instead of a recompute.

        ``as_of_gen`` collides against the snapshot corpus at that
        generation (pin :meth:`current_gen` when a run starts): both
        the band rows and the verification token sets filter as-of, so
        the result equals a fresh build over that historical corpus
        (pinned in tests/test_snapshot.py). Reproducibility for
        curation audits — "what would this batch have deduped against
        last week's corpus" stays answerable through later
        appends/deletes."""
        spark = new_docs.sparkSession
        self._adopt(self._config())
        new_toks, new_banded = self._prepared(new_docs, id_col, text_col)
        new_banded = new_banded.cache()

        # literal bucket list -> Parquet partition pruning on the
        # corpus band scan (bounded: ≤ n_buckets ints)
        buckets = sorted(
            r.bucket for r in new_banded.select("bucket").distinct().collect()
        )
        # bucket pruning applies UNDER the tombstone anti-filter, so
        # the partition-pruned scan shape is unchanged by deletes
        corpus_banded = self._visible(
            spark,
            self.corpus_bands(spark).filter(F.col("bucket").isin(buckets)),
            as_of_gen,
        ).drop(GEN_COL)
        cand = (
            new_banded.alias("n")
            .join(
                corpus_banded.alias("c"),
                on=[
                    F.col("n.band") == F.col("c.band"),
                    F.col("n.band_key") == F.col("c.band_key"),
                ],
            )
            .select(
                F.col("n.doc_id").alias("new_id"),
                F.col("c.doc_id").alias("corpus_id"),
            )
            .distinct()
        )
        ta = new_toks.select(
            F.col("doc_id").alias("new_id"),
            F.col("toks").alias("toks_a"),
            F.size("toks").alias("sz_a"),
        )
        tb = self._visible(spark, self.corpus_toks(spark), as_of_gen).select(
            F.col("doc_id").alias("corpus_id"),
            F.col("toks").alias("toks_b"),
            F.col("sz").alias("sz_b"),
        )
        jac = F.expr(
            "cast(size(array_intersect(toks_a, toks_b)) as double)"
            " / nullif(size(array_union(toks_a, toks_b)), 0)"
        )
        size_ok = F.least("sz_a", "sz_b") >= F.greatest("sz_a", "sz_b") * threshold
        return (
            cand.join(ta, "new_id")
            .join(tb, "corpus_id")
            .filter(size_ok)
            .select("new_id", "corpus_id", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
            .withColumn("jaccard", F.round("jaccard", 6))
        )
