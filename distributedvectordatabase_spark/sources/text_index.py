"""Persistent term-partitioned inverted index for BM25 serving.

`operators/search.bm25_topk` recomputes postings from raw text per
query — right for one-shot analytics, wrong for serving many queries
against a stable corpus. TextIndex is the "build once, query many"
form, the lexical mirror of the vector stores (sources/vector_store.py
partitions vectors by LSH shard; sources/ivf_store.py by KMeans cell;
this partitions postings by term hash-bucket):

- **build**: one pass tokenizes the corpus, writes a postings table
  (term, doc_id, tf, dl) to parquet `partitionBy(term_bucket)` where
  `term_bucket = xxhash64(term) mod n_buckets`, plus per-term document
  frequencies (same layout) and a one-row JSON stats sidecar
  (n_docs, total_len). All the per-query work of bm25_topk that does
  not depend on the query — tokenize, explode, tf groupBy, df count —
  is paid once here.
- **query**: a BM25 search reads ONLY the buckets its terms hash to:
  the `term_bucket IN (...)` literal predicate becomes Parquet
  partition pruning (asserted in tests/test_plans-style plan checks),
  so a 3-term query against a 32-bucket index touches ≤ 3/32 of the
  postings bytes no matter the corpus size. Scoring reuses the exact
  arithmetic of bm25_topk (quantized per-term contributions, exact
  decimal sum), so `TextIndex.bm25(...)` returns byte-identical rows
  to the one-shot operator — pinned by tests/test_text_index.py.

At 100 TB: postings are ~tokens-sized but compress well (ints +
dictionary-encoded terms); the build's only shuffle is the tf groupBy;
queries shuffle O(matched docs) pre-aggregated rows.

Take-downs (r6, parity with the vector stores): postings carry the
(id, gen) merge-on-read generation of ``tombstones.GenerationalStore``,
whose sidecar here is ``_stats.json``; ``delete()`` appends tombstones
and scoring filters live, so a policy
take-down stops being served immediately — O(deleted) bytes written,
``compact()`` folds physically. BM25 needs EXACT live corpus stats
(n_docs, avgdl feed every score), so the index persists a small
``doclens`` table (doc_id, dl — O(n_docs) rows, not O(tokens)):
deletes decrement the stats sidecar by the tombstoned docs' exact
counts, and a ``stats_gen`` marker makes the two-step
(tombstones, then stats) crash-safe — a mismatch triggers a one-time
exact recount from the live doclens table. After delete, every score
is byte-identical to a fresh build over the surviving corpus (pinned
in tests/test_text_index.py).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributedvectordatabase_spark.functions import text as T
from distributedvectordatabase_spark.sources.tombstones import (
    GEN_COL,
    StreamedStore,
    locked_writer,
)

__all__ = ["TextIndex"]


class TextIndex(StreamedStore):
    _SIDECAR = "_stats.json"

    def __init__(self, path: str, n_buckets: int = 32):
        self.path = path
        self.n_buckets = int(n_buckets)

    @property
    def _postings_path(self) -> str:
        return os.path.join(self.path, "postings")

    @property
    def _doclens_path(self) -> str:
        return os.path.join(self.path, "doclens")

    # ------------------------------------------------------------------
    @locked_writer
    def build(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        ingest_batch: int | None = None,
    ) -> None:
        """Tokenize once, persist bucketed postings + corpus stats.
        ``ingest_batch`` (streaming) rides the stats dump so the
        batch-committed marker is atomic with the index becoming
        readable; the overwrite writes make a replayed build
        idempotent. A build over an existing index starts a fresh
        history: its rows restart at gen 1, so the old tombstones go."""
        self._fresh_history()
        toks = F.expr(T.tokens(text_col, T.SPARK))
        base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))

        n_docs, total_len = base.agg(
            F.count("*"), F.sum(F.size("toks"))
        ).first()

        postings = (
            base.select(
                "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
            )
            .groupBy("doc_id", "dl", "term")
            .agg(F.count("*").alias("tf"))
            .withColumn(
                "term_bucket",
                F.pmod(F.xxhash64("term"), F.lit(self.n_buckets)).cast("int"),
            )
            .withColumn(GEN_COL, F.lit(1))
        )
        (
            postings.repartition("term_bucket")
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(self._postings_path)
        )
        base.select("doc_id", F.size("toks").alias("dl")).withColumn(
            GEN_COL, F.lit(1)
        ).write.mode("overwrite").parquet(self._doclens_path)
        st = {
            "n_docs": int(n_docs),
            "total_len": int(total_len or 0),
            "n_buckets": self.n_buckets,
            "gen": 1,
            "stats_gen": 1,
        }
        if ingest_batch is not None:
            st["ingest_batch"] = int(ingest_batch)
        self._dump(st)

    @locked_writer
    def append(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        ingest_batch: int | None = None,
    ) -> None:
        """Incrementally index new documents: their postings append to
        the same bucketed layout and the stats sidecar accumulates.
        Per-term document frequencies are derived at query time from
        the postings themselves, so appends need no df merge step —
        after append, queries are indistinguishable from a fresh
        build over the union (pinned by tests). Caller owns doc-id
        uniqueness (same contract as VectorStore.append).

        Crash-atomic (the GenerationalStore two-phase protocol): a
        write intent persists before the data jobs, and one final stats
        dump commits the gen, the n_docs/total_len increments, and (for
        ``stream_text_index_ingest``) the ``ingest_batch`` marker
        together. A crash mid-append leaves postings/doclens orphans
        invisible to every read until the next writer heals them; the
        replay commits under a fresh gen, so served scores never see a
        double-counted batch."""
        spark = docs.sparkSession
        st = self._live_stats(spark)
        n_buckets = self._persisted_buckets(st)
        if not os.path.exists(self._doclens_path):
            # upgrade a pre-r6 index before mixing in new rows: the
            # derived doclens of the EXISTING docs must land first, or
            # a later delete would see only post-upgrade docs
            self._committed(self._doclens(spark)).write.parquet(
                self._doclens_path
            )
        gen = self._begin_append()
        toks = F.expr(T.tokens(text_col, T.SPARK))
        base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
        n_new, len_new = base.agg(F.count("*"), F.sum(F.size("toks"))).first()
        postings = (
            base.select(
                "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
            )
            .groupBy("doc_id", "dl", "term")
            .agg(F.count("*").alias("tf"))
            .withColumn(
                "term_bucket",
                F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"),
            )
            .withColumn(GEN_COL, F.lit(gen))
        )
        (
            postings.repartition("term_bucket")
            .write.mode("append")
            .partitionBy("term_bucket")
            .parquet(self._postings_path)
        )
        base.select("doc_id", F.size("toks").alias("dl")).withColumn(
            GEN_COL, F.lit(gen)
        ).write.mode("append").parquet(self._doclens_path)
        self._commit(
            gen, ingest_batch,
            n_docs=int(st["n_docs"]) + int(n_new),
            total_len=int(st["total_len"]) + int(len_new or 0),
            stats_gen=gen,
        )

    def stats(self) -> dict:
        with open(self._sidecar_path) as f:
            return json.load(f)

    def _doclens(self, spark: SparkSession) -> DataFrame:
        """(doc_id, dl, _gen) — one row per indexed document version,
        committed or not.
        Pre-r6 stores have no doclens table; derive it from the
        postings (dl rides every posting row) — one full scan, paid
        only on the delete/repair paths, never at query time.

        Pre-r6 caveat: the postings derivation cannot see ZERO-token
        documents (they emit no posting rows), so on a pre-r6 index
        whose corpus contained empty docs, a delete/recount resolves
        n_docs without them while the build-time sidecar counted them
        — post-delete scores then deviate from a fresh build by that
        count. Indexes built/appended at r6+ always write doclens at
        index time (one row per doc, empties included), where the
        fresh-build equivalence is exact."""
        if os.path.exists(self._doclens_path):
            from distributedvectordatabase_spark.sources.scan_cache import (
                cached_parquet,
            )

            return cached_parquet(spark, self._doclens_path)
        post = self.postings(spark)
        if GEN_COL not in post.columns:
            post = post.withColumn(GEN_COL, F.lit(0))
        return post.select("doc_id", "dl", GEN_COL).distinct()

    def _doclens_live(self, spark: SparkSession) -> DataFrame:
        return self._visible(spark, self._doclens(spark))

    def _live_stats(self, spark: SparkSession) -> dict:
        """Corpus stats over LIVE documents — exact, because BM25's
        n_docs/avgdl feed every score. Normally a sidecar read; if a
        crash split a delete between its tombstone append and its
        stats decrement (stats_gen < gen), recount once from the live
        doclens table and heal the sidecar."""
        st = self.stats()
        if int(st.get("stats_gen", st.get("gen", 0))) == int(st.get("gen", 0)):
            return st
        n_docs, total_len = self._doclens_live(spark).agg(
            F.count("*"), F.sum("dl")
        ).first()
        st["n_docs"] = int(n_docs)
        st["total_len"] = int(total_len or 0)
        st["stats_gen"] = int(st.get("gen", 0))
        self._dump(st)
        return st

    # -- delete / compact ---------------------------------------------------

    @locked_writer
    def delete(self, spark: SparkSession, ids) -> None:
        """Merge-on-read take-down: hide every current posting of the
        given doc ids (list/iterable or one-column DataFrame) — the
        documents stop being served immediately, and the corpus stats
        decrement by their exact counts so every surviving score is
        byte-identical to a fresh build without them. O(deleted) bytes
        written; ``compact()`` reclaims the space. Docs appended AFTER
        the delete are untouched (strict ``row._gen > tombstone gen``
        survival)."""
        self._live_stats(spark)  # recount first if a delete was split
        if not isinstance(ids, DataFrame):
            ids = spark.createDataFrame([(int(i),) for i in ids], "doc_id long")
        ids = ids.select(F.col(ids.columns[0]).cast("long").alias("doc_id"))
        # exact decrement of the docs this delete actually kills,
        # pinned BEFORE the tombstones exist (the aggregate executes
        # here; re-deleting a dead id decrements nothing)
        dead = self._doclens_live(spark).join(
            F.broadcast(ids.distinct()), "doc_id", "semi"
        )
        n_dead, len_dead = dead.agg(F.count("*"), F.sum("dl")).first()
        # a crash after the tombstones and before the decrement leaves
        # stats_gen < gen -> exact recount on next use
        gen = self._tombstone(spark, ids)
        # the exact decrement marks the stats current again
        st = self._config()
        st["n_docs"] = int(st["n_docs"]) - int(n_dead)
        st["total_len"] = int(st["total_len"]) - int(len_dead or 0)
        st["stats_gen"] = gen
        self._dump(st)

    @locked_writer
    def compact(self, spark: SparkSession) -> None:
        """Fold tombstones in physically: rewrite only live postings /
        doclens rows (keeping their ``_gen``), then swap — the new copy
        is fully materialized in a sibling directory before the old one
        is removed, so a failed compaction never loses the index. Also
        upgrades a pre-r6 index:
        the rewrite materializes the doclens table and the ``_gen``
        column."""
        st = self._live_stats(spark)
        post = self.postings(spark)
        if GEN_COL not in post.columns:
            post = post.withColumn(GEN_COL, F.lit(0))
        with self._compaction(st) as tmp:
            (
                self._visible(spark, post)
                .repartition("term_bucket")
                .write.mode("overwrite")
                .partitionBy("term_bucket")
                .parquet(os.path.join(tmp, "postings"))
            )
            self._doclens_live(spark).write.mode("overwrite").parquet(
                os.path.join(tmp, "doclens")
            )

    def _stats_as_of(self, spark: SparkSession, gen: int) -> tuple[int, int]:
        """(n_docs, total_len) of the corpus AS OF ``gen`` — BM25's
        n_docs/avgdl feed every score, and the sidecar is gen-current
        only, so the snapshot recounts from the as-of doclens table:
        one O(n_docs) aggregation per snapshot query batch, never a
        postings scan."""
        n_docs, total_len = (
            self._visible(spark, self._doclens(spark), gen)
            .agg(F.count("*"), F.sum("dl"))
            .first()
        )
        if not n_docs:
            raise ValueError(
                f"no documents at generation {gen}: the snapshot corpus "
                "is empty (or compact() truncated history past it)"
            )
        return int(n_docs), int(total_len or 0)

    def _persisted_buckets(self, st: dict) -> int:
        """The bucket count the index was BUILT with is the only one
        that maps terms to the right partitions; a TextIndex reopened
        with a different constructor value (e.g. the default 32) must
        not silently prune the wrong partitions and drop postings.
        Adopts the persisted value and keeps self in sync."""
        persisted = int(st.get("n_buckets", self.n_buckets))
        self.n_buckets = persisted
        return persisted

    def postings(self, spark: SparkSession) -> DataFrame:
        from distributedvectordatabase_spark.sources.scan_cache import cached_parquet

        return cached_parquet(spark, self._postings_path)

    # ------------------------------------------------------------------
    def bm25(
        self,
        spark: SparkSession,
        terms: list[str],
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        as_of_gen: int | None = None,
    ) -> DataFrame:
        """BM25 top-k over the persisted index — identical rows to
        operators/search.bm25_topk on the same corpus/terms, but the
        scan touches only the query terms' hash buckets (partition
        pruning) and pays no tokenization.

        ``as_of_gen`` serves the snapshot corpus at that generation
        (pin :meth:`current_gen` when a run starts): postings filter
        as-of, document frequencies re-derive from the as-of postings,
        and n_docs/avgdl recount from the as-of doclens — scores are
        byte-identical to a fresh build over that historical corpus
        (pinned in tests/test_snapshot.py).

        The scoring arithmetic is _scored (shared verbatim with
        bm25_batch, so the parity-critical expressions live once); the
        single-query top-k stays ``ORDER BY ... LIMIT k`` so the plan
        keeps TakeOrderedAndProject (per-partition heaps + driver
        merge) instead of a one-partition window sort over every
        candidate doc."""
        if not terms:
            raise ValueError("bm25 requires at least one query term")
        q = spark.createDataFrame(
            [(0, sorted(set(terms)))], "qid long, terms array<string>"
        )
        scored = self._scored(spark, q, "qid", "terms", k1, b, as_of_gen)
        k = max(int(k), 1)
        return (
            scored.withColumn(
                "score",
                F.expr(
                    "cast(floor(score_dec * 1000000 + 0.5) as bigint)"
                    " / cast(1000000 as double)"
                ),
            )
            .orderBy(F.col("score_dec").desc(), F.col("doc_id"))
            .limit(k)
            .withColumn(
                "rnk",
                F.row_number().over(
                    Window.orderBy(F.col("score_dec").desc(), F.col("doc_id"))
                ),
            )
            .select("doc_id", "score", "rnk")
        )

    def _scored(
        self,
        spark: SparkSession,
        queries: DataFrame,
        qid_col: str,
        terms_col: str,
        k1: float,
        b: float,
        as_of_gen: int | None = None,
    ) -> DataFrame:
        """(qid, doc_id, score_dec) for every candidate doc of every
        query — the shared scoring stage of bm25/bm25_batch: ONE
        postings scan partition-pruned to the union of the batch's
        term buckets, per-(doc, term) contributions computed once and
        fanned out by a broadcast (qid, term) join, per-(qid, doc)
        exact decimal sum of 1e-6-quantized contributions. With
        ``as_of_gen``, the postings filter and the corpus stats both
        resolve at that generation (snapshot serving)."""
        from distributedvectordatabase_spark.operators.knn import MAX_QUERY_BATCH

        if as_of_gen is None:
            st = self._live_stats(spark)
            n_docs = int(st["n_docs"])
            total_len = float(st["total_len"])
        else:
            st = self.stats()
            n_docs, total_len = self._stats_as_of(spark, int(as_of_gen))
        n_buckets = self._persisted_buckets(st)
        qterms = (
            queries.select(
                F.col(qid_col).alias("qid"), F.explode(terms_col).alias("term")
            )
            .distinct()  # BM25 bag form: a repeated query term weighs once
        )
        # ONE driver job collects the batch vocabulary AND each term's
        # pruning bucket (r11): the bucket hash is the same xxhash64
        # expression the build used, evaluated on the same rows the
        # vocabulary collect already touches — the former second job
        # (a LocalRelation re-hash of the collected terms) was pure
        # scheduling overhead.
        vocab_rows = (
            qterms.select("term")
            .distinct()
            .withColumn(
                "b", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
            )
            .limit(MAX_QUERY_BATCH + 1)
            .collect()
        )
        if not vocab_rows:
            raise ValueError("bm25_batch requires at least one query term")
        if len(vocab_rows) > MAX_QUERY_BATCH:
            raise ValueError(
                f"batch vocabulary exceeds MAX_QUERY_BATCH={MAX_QUERY_BATCH}; "
                "split the query batch"
            )
        terms = sorted(r.term for r in vocab_rows)
        buckets = sorted({r.b for r in vocab_rows})
        # tombstone anti-filter sits ABOVE the bucket/term-pruned scan,
        # so deletes never change the partition-pruned plan shape; the
        # commit filter is two more literal predicates on the same scan
        post = self._visible(
            spark,
            self.postings(spark)
            .filter(F.col("term_bucket").isin(buckets))
            .filter(F.col("term").isin(terms)),
            as_of_gen,
        ).drop(GEN_COL)
        df_t = post.groupBy("term").agg(F.count("*").alias("df"))
        m = F.lit(1e6)
        qz6 = lambda c: F.floor(c * m + F.lit(0.5)) / m  # noqa: E731
        contrib = (
            post.join(F.broadcast(df_t), "term")
            .withColumn("n_docs", F.lit(int(n_docs)))
            .withColumn(
                "avgdl",
                F.lit(float(total_len)) / F.lit(int(n_docs)),
            )
            .withColumn(
                "idf",
                F.log(
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                ),
            )
            .withColumn(
                "contrib",
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                ),
            )
            .select("term", "doc_id", "contrib")
        )
        return (
            contrib.join(F.broadcast(qterms), "term")
            .groupBy("qid", "doc_id")
            .agg(F.sum(qz6(F.col("contrib")).cast("decimal(38,6)")).alias("score_dec"))
        )

    def bm25_batch(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        qid_col: str = "qid",
        terms_col: str = "terms",
        as_of_gen: int | None = None,
        allowed_ids: DataFrame | None = None,
    ) -> DataFrame:
        """BM25 top-k for a TABLE of term queries against the persisted
        index — the serving form of operators/search.bm25_topk_batch.
        ``queries`` carries (qid, terms array<string>); returns
        (qid, doc_id, score, rnk), row-identical per qid to
        :meth:`bm25` (pinned in tests). Scoring is the shared _scored
        stage (``as_of_gen`` serves a pinned snapshot generation, same
        semantics as :meth:`bm25`); the per-query top-k is one window
        over qid. The query table is the small side by definition —
        its distinct terms are collected driver-side to build the
        literal bucket/term pruning lists (bounded like the kNN query
        batch).

        ``allowed_ids`` (one ``doc_id`` column) restricts the result to
        those documents — the standard IR filtered-retrieval contract:
        the filter is a hard constraint applied BEFORE the per-query
        top-k cut (so the result is the exact top-k among allowed
        docs), while df/idf/avgdl stay corpus-global (a filter narrows
        the candidates, it does not re-weight the collection). The
        semi-join runs on the bucket-pruned scored rows, never the full
        postings."""
        k = max(int(k), 1)
        scored = self._scored(spark, queries, qid_col, terms_col, k1, b, as_of_gen)
        if allowed_ids is not None:
            allow = allowed_ids.select(
                F.col(allowed_ids.columns[0]).alias("doc_id")
            )
            scored = scored.join(allow, "doc_id", "left_semi")
        w = Window.partitionBy("qid").orderBy(
            F.col("score_dec").desc(), F.col("doc_id")
        )
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .withColumn(
                "score",
                F.expr(
                    "cast(floor(score_dec * 1000000 + 0.5) as bigint)"
                    " / cast(1000000 as double)"
                ),
            )
            .select("qid", "doc_id", "score", "rnk")
        )
