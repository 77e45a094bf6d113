"""Persistent BPE tokenizer artifact — train once, apply many.

``operators/bpe.bpe_train`` returns a driver-side Python merge list:
right for an interactive session, wrong for the train-once/apply-many
shape every tokenizer actually lives in (the reference's own ETL
establishes the pattern for embeddings — compute once in
generate_coco_embeddings.py, reload many in load_coco_embeddings.py:
38-115 — and a trained tokenizer is the same kind of artifact).
TokenizerStore is the store form, sidecar-authoritative on reopen like
every other trained artifact in the engine (PQ codebooks, SQ bounds,
BQ config — sources/vector_store.py pattern):

- **word_counts/** — ``(doc_id, word, cnt, _gen)``: per-document word
  frequencies, the corpus' SUFFICIENT STATISTIC for BPE. Everything
  the training loop ever needs folds out of this table, so no
  lifecycle operation re-reads the corpus: ``append`` adds the new
  docs' counts (one tokenize pass over the new docs only), ``delete``
  tombstones a document's counts (merge-on-read), and each retrain
  aggregates the
  live rows to the (word, freq) vocabulary — vocab-bounded from there
  (operators/bpe.py merge-loop economics).
- **merges/** — ``(ord, a, b, cnt)``: the learned merges in order,
  overwrite-rewritten by retrain. Derived data: a crash mid-rewrite
  repairs by calling ``retrain()`` again (same repair contract as the
  IVF codes tables).
- **_config.json** — n_merges, the tokenize rule (whitespace words,
  the bpe_pair_stats gate's split), and the ``tombstones.GenerationalStore``
  commit fields; authoritative on reopen.

Train/append/delete all leave the artifact CONSISTENT with a fresh
train over the live registered corpus (pinned in
tests/test_tokenizer_store.py): BPE is a pure function of the word
frequencies, so "fold the statistics, rerun the vocab-bounded loop"
is exact — never an approximation. ``apply`` loads the merges and runs
``operators/bpe.bpe_apply`` (size-aware joinback), row-identical to
applying the in-memory list.

At 100 TB: word_counts is bounded by corpus tokens (in practice far
smaller — it collapses per-doc repeats) and partitions by doc-id hash;
retrain cost is O(n_merges × vocabulary), independent of corpus size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributedvectordatabase_spark.operators.bpe import (
    bpe_apply,
    bpe_train_from_vocab,
)
from distributedvectordatabase_spark.sources.tombstones import (
    GEN_COL,
    StreamedStore,
    locked_writer,
)

__all__ = ["TokenizerStore"]


class TokenizerStore(StreamedStore):
    _SIDECAR = "_config.json"

    def __init__(self, path: str, n_merges: int | None = None):
        self.path = path
        # reopen contract (IVFStore pattern): the persisted config wins
        # over the default; an EXPLICIT n_merges wins for new trains
        self.n_merges = 50 if n_merges is None else int(n_merges)
        if n_merges is None:
            self.n_merges = int(self._config().get("n_merges", self.n_merges))

    # -- layout ---------------------------------------------------------

    @property
    def _counts_path(self) -> str:
        return os.path.join(self.path, "word_counts")

    @property
    def _merges_path(self) -> str:
        return os.path.join(self.path, "merges")

    @property
    def _pieces_path(self) -> str:
        return os.path.join(self.path, "pieces")

    # -- sufficient statistics -------------------------------------------

    @staticmethod
    def _word_counts_of(
        docs: DataFrame, id_col: str, text_col: str
    ) -> DataFrame:
        """(doc_id, word, cnt) — whitespace words, the same split as
        operators/bpe.word_vocab and the bpe_pair_stats gate. One
        map-side-combinable aggregation over the given docs only."""
        return (
            docs.select(
                F.col(id_col).cast("long").alias("doc_id"),
                F.explode(
                    F.filter(
                        F.split(F.col(text_col), " ", -1), lambda t: t != ""
                    )
                ).alias("word"),
            )
            .groupBy("doc_id", "word")
            .agg(F.count("*").alias("cnt"))
        )

    def _counts_live(self, spark: SparkSession) -> DataFrame:
        return self._visible(spark, spark.read.parquet(self._counts_path))

    def vocab(self, spark: SparkSession) -> DataFrame:
        """(word, freq) over the LIVE registered corpus — what the
        merge loop trains from."""
        return (
            self._counts_live(spark)
            .groupBy("word")
            .agg(F.sum("cnt").alias("freq"))
        )

    def registered_docs(self, spark: SparkSession) -> DataFrame:
        """(doc_id, n_words) — the live training-corpus registration."""
        return (
            self._counts_live(spark)
            .groupBy("doc_id")
            .agg(F.sum("cnt").alias("n_words"))
        )

    # -- lifecycle --------------------------------------------------------

    @locked_writer
    def _register_initial(
        self,
        docs: DataFrame,
        id_col: str,
        text_col: str,
        ingest_batch: int | None = None,
    ) -> None:
        """First registration: counts at gen 1 + fresh config (the
        overwrite writes make a streaming replay of this step
        idempotent; the batch id rides the config dump).

        A re-train on a previously-used path is a REBUILD, so the old
        history must go with it (IVFStore.build's reset contract):
        stale higher-gen merge versions would otherwise shadow the
        fresh training forever (merges() picks max gen), and old
        tombstones would silently kill re-registered doc ids (new rows
        at _gen=1 fail the '_gen > tombstone gen' survival rule)."""
        self._fresh_history(self._merges_path)
        (
            self._word_counts_of(docs, id_col, text_col)
            .withColumn(GEN_COL, F.lit(1))
            .write.mode("overwrite")
            .parquet(self._counts_path)
        )
        cfg = {
            "n_merges": self.n_merges,
            "tokenize": "whitespace",
            "gen": 1,
        }
        if ingest_batch is not None:
            cfg["ingest_batch"] = int(ingest_batch)
        self._dump(cfg)

    @locked_writer
    def train(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> list[tuple[str, str, int]]:
        """Register ``docs`` as the training corpus (one tokenize pass)
        and learn ``self.n_merges`` merges. Returns the merge list; the
        same list is persisted and reloadable forever via
        :meth:`merges`."""
        spark = docs.sparkSession
        self._register_initial(docs, id_col, text_col)
        return self.retrain(spark)

    @locked_writer
    def append(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        retrain: bool = True,
        ingest_batch: int | None = None,
    ) -> list[tuple[str, str, int]]:
        """Add documents to the training corpus and retrain: exactly
        equal to a fresh :meth:`train` over the union (BPE is a pure
        function of word frequencies, and frequencies add). Only the
        NEW docs are tokenized; the retrain is vocab-bounded. Caller
        owns doc-id uniqueness (VectorStore.append contract).

        ``retrain=False`` registers the statistics without the merge
        loop (the streaming-ingest shape: retrain once after the
        stream drains, not per micro-batch — statistics folding is
        exact regardless of when the loop runs). ``ingest_batch``
        rides the config commit (the shared exactly-once marker).

        Crash-atomic counts (the GenerationalStore two-phase protocol):
        the merges rewrite is derived data, repaired by ``retrain()``."""
        spark = docs.sparkSession
        gen = self._begin_append()
        (
            self._word_counts_of(docs, id_col, text_col)
            .withColumn(GEN_COL, F.lit(gen))
            .write.mode("append")
            .parquet(self._counts_path)
        )
        self._commit(gen, ingest_batch)
        return self.retrain(spark) if retrain else []

    @locked_writer
    def delete(self, spark: SparkSession, ids) -> list[tuple[str, str, int]]:
        """Remove documents' influence from the tokenizer: tombstone
        their word counts (merge-on-read, O(deleted) bytes) and
        retrain — exactly equal to a fresh train over the surviving
        corpus. The take-down story the vector stores already have,
        for the one artifact that would otherwise embed a removed
        document's vocabulary forever."""
        self._tombstone(spark, ids)
        return self.retrain(spark)

    @locked_writer
    def compact(self, spark: SparkSession) -> None:
        """Fold tombstones physically (rewrite live counts, keep their
        gens, swap complete-then-remove — the shared compact shape).
        The merge VERSION history is kept: each version is O(n_merges)
        rows, so — unlike the row tables, whose history cost is the
        data itself — truncating it reclaims nothing; pinned tokenizer
        versions stay reproducible through compaction."""
        import shutil

        with self._compaction() as tmp:
            self._counts_live(spark).write.mode("overwrite").parquet(
                os.path.join(tmp, "word_counts")
            )
            if os.path.exists(self._merges_path):
                shutil.copytree(
                    self._merges_path, os.path.join(tmp, "merges")
                )
            if os.path.exists(self._pieces_path):
                # the unigram artifact versions ride through compaction
                # exactly like the merge versions
                shutil.copytree(
                    self._pieces_path, os.path.join(tmp, "pieces")
                )

    @locked_writer
    def retrain(self, spark: SparkSession) -> list[tuple[str, str, int]]:
        """Run the vocab-bounded merge loop over the live statistics
        and write the result as a NEW merge version stamped with the
        config's current gen (``merges/gen=<g>/`` — gen discovers as a
        partition column on read). Versions make the tokenizer
        time-travelable like every other store: pin ``current_gen()``
        when a run starts and ``merges(as_of_gen=...)`` /
        ``apply(as_of_gen=...)`` reproduce exactly the tokenizer that
        run used, through later appends/deletes/retrains. A repeated
        retrain at the same gen overwrites its own version directory —
        the crash repair for a failed merges write stays idempotent
        (derived data, like the IVF codes tables)."""
        gen = self._gen()
        merges = bpe_train_from_vocab(self.vocab(spark), self.n_merges)
        rows = [(i, a, b, int(c)) for i, (a, b, c) in enumerate(merges)]
        if rows:
            df = spark.createDataFrame(
                rows, "ord int, a string, b string, cnt long"
            )
        else:
            df = spark.createDataFrame(
                [], "ord int, a string, b string, cnt long"
            )
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self._merges_path, f"gen={gen}")
        )
        return merges

    @locked_writer
    def retrain_unigram(self, spark: SparkSession, **train_kw) -> dict[str, float]:
        """Train the unigram-LM artifact (operators/unigram.py) over
        the SAME live word statistics the BPE loop trains from, and
        persist it as a versioned piece table (``pieces/gen=<g>/`` —
        the merges-table contract exactly: stamped with the config
        gen, overwrite-idempotent at the same gen, time-travelable via
        ``as_of_gen``). Both tokenizer families are pure functions of
        the (word, freq) statistics, so every lifecycle operation
        (append / delete / compact / streaming ingest) serves both —
        one registered corpus, two trained artifacts. ``train_kw``
        forwards to :func:`unigram_train` (vocab_size, seed_size, …)
        and the values used are recorded in the config for
        reproducibility."""
        from distributedvectordatabase_spark.operators.unigram import unigram_train

        gen = self._gen()
        vocab, _report = unigram_train(None, wv=self.vocab(spark), **train_kw)
        rows = sorted(vocab.items())
        df = spark.createDataFrame(rows or [], "piece string, logp double")
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self._pieces_path, f"gen={gen}")
        )
        cfg = self._config()
        cfg["unigram"] = {
            k: v for k, v in train_kw.items() if isinstance(v, (int, float, str))
        }
        self._dump(cfg)
        return vocab

    def unigram_versions(self, spark: SparkSession) -> list[int]:
        """Gens with a trained unigram version, ascending."""
        if not os.path.exists(self._pieces_path):
            return []
        return sorted(
            r.gen
            for r in spark.read.parquet(self._pieces_path)
            .select("gen").distinct().collect()
        )

    def unigram_vocab(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> dict[str, float]:
        """The persisted piece → log-prob table (latest version, or the
        newest at gen <= ``as_of_gen`` — the merges() pinning rule)."""
        vs = self.unigram_versions(spark)
        if not vs:
            raise ValueError(
                f"tokenizer store at {self.path!r} has no trained unigram "
                "version — run retrain_unigram(spark) first"
            )
        if as_of_gen is not None:
            vs = [g for g in vs if g <= int(as_of_gen)]
            if not vs:
                raise ValueError(
                    f"no unigram version at or before generation {as_of_gen}"
                )
        pick = vs[-1]
        return {
            r.piece: float(r.logp)
            for r in spark.read.parquet(self._pieces_path)
            .filter(F.col("gen") == pick)
            .collect()
        }

    def apply_unigram(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        out_col: str = "uni_tokens",
        as_of_gen: int | None = None,
        **kw,
    ) -> DataFrame:
        """Tokenize ``docs`` under the persisted unigram pieces —
        row-identical to ``unigram_apply(docs, store.unigram_vocab())``
        (parquet float64 round-trips log-probs exactly, so the Viterbi
        decisions cannot differ; pinned in tests)."""
        from distributedvectordatabase_spark.operators.unigram import unigram_apply

        return unigram_apply(
            docs,
            self.unigram_vocab(docs.sparkSession, as_of_gen=as_of_gen),
            text_col=text_col,
            id_col=id_col,
            out_col=out_col,
            **kw,
        )

    # -- use --------------------------------------------------------------

    def merge_versions(self, spark: SparkSession) -> list[int]:
        """Gens that have a trained merge version, ascending. Empty if
        the store registered counts but never ran the merge loop (the
        stream_tokenizer_ingest retrain_per_batch=False flow before its
        post-drain retrain)."""
        if not os.path.exists(self._merges_path):
            return []
        return sorted(
            r.gen
            for r in spark.read.parquet(self._merges_path)
            .select("gen").distinct().collect()
        )

    def merges(
        self, spark: SparkSession, as_of_gen: int | None = None
    ) -> list[tuple[str, str, int]]:
        """The learned merge list, in order, from disk — the LATEST
        version by default, or the version a run pinned: the newest
        version at gen <= ``as_of_gen`` (versions are stamped with the
        mutation gen that triggered their retrain)."""
        vs = self.merge_versions(spark)
        if not vs:
            raise ValueError(
                f"tokenizer store at {self.path!r} has registered counts but "
                "no trained merge version yet — run retrain(spark) first "
                "(the deferred-retrain streaming flow registers statistics "
                "without the merge loop)"
            )
        if as_of_gen is not None:
            vs = [g for g in vs if g <= int(as_of_gen)]
            if not vs:
                raise ValueError(
                    f"no merge version at or before generation {as_of_gen}"
                )
        pick = vs[-1]
        return [
            (r.a, r.b, int(r.cnt))
            for r in spark.read.parquet(self._merges_path)
            .filter(F.col("gen") == pick)
            .orderBy("ord")
            .collect()
        ]

    def apply(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        out_col: str = "bpe_tokens",
        as_of_gen: int | None = None,
        **kw,
    ) -> DataFrame:
        """Tokenize ``docs`` under the persisted merges — row-identical
        to ``bpe_apply(docs, store.merges(...))`` (pinned in tests);
        the docs need NOT be registered training docs. ``as_of_gen``
        applies the tokenizer version a run pinned (see
        :meth:`merges`)."""
        return bpe_apply(
            docs,
            self.merges(docs.sparkSession, as_of_gen=as_of_gen),
            text_col=text_col,
            id_col=id_col,
            out_col=out_col,
            **kw,
        )
