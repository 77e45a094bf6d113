"""Exact repeated-substring detection & trimming (Lee et al. 2021,
"Deduplicating Training Data Makes Language Models Better" — the
fingerprint variant of their suffix-array ExactSubstr pass) — the
DataFrame scale path behind the ``doc_substring_dedup`` gate
(catalog._q_doc_substring_dedup).

Every K-word window occurring ≥ 2 times ANYWHERE in the corpus marks
its span; overlapping marks merge into maximal per-document spans
(gaps-and-islands over start positions); ``substring_trim`` removes the
spans — the boilerplate/licence-block/navigation-chrome mass that
MinHash (whole-document granularity) and the Gopher rules (within-doc
only) both miss.

100 TB shape (each stage linear in corpus tokens, nothing corpus²):

1. ONE posexplode of K-shingles (the scan pass).
2. Duplicate detection is a map-side-combinable ``groupBy(shingle)``;
   the mark pass re-joins the exploded shingles against the surviving
   duplicate set. That dup set is NOT broadcastable at corpus scale
   (boilerplate-heavy crawls have huge dup vocabularies), so this is a
   shuffle join on the shingle key — AQE's skew-join splitting handles
   the hot shingles ("click here to", licence headers) that a
   count-over-window formulation would funnel into single window
   partitions. Both sides come from the same exploded frame, and the
   groupBy side shrinks map-side before its exchange.
3. Span merge windows over each doc's OWN marks only (partitionBy
   doc_id) — per-doc work, bounded by doc length.
4. Trimming explodes span positions (≤ doc length rows per doc) and
   anti-joins the token stream — again doc_id-keyed and skinny.

Determinism matches the gate bit-for-bit (pinned in
tests/test_substring_dedup.py): positions, window counts and span
lengths are all integers; the only double is the final int/int
fraction under the shared 1e-6 floor-round rule.

Reference parity: no counterpart — the reference's dedup surface stops
at whole-vector similarity; corpus-substring hygiene is part of the
training-data layer this engine adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import SPARK, q6_col, tokens, word_shingles

K_DEFAULT = 8


def _tokenized(
    docs: DataFrame, text_col: str, id_col: str, tokens_col: str | None = None
) -> DataFrame:
    """(doc_id, toks). ``tokens_col`` names an existing array<string>
    column to use instead of re-tokenizing ``text_col`` — the pattern a
    100 TB pipeline runs: tokenize ONCE, persist the token column, and
    every downstream operator (this one, gopher, dsir, bpe_apply)
    reads it instead of re-paying tokenize × passes on the raw text."""
    if tokens_col is not None:
        return docs.select(F.col(id_col).alias("doc_id"), F.col(tokens_col).alias("toks"))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(tokens(text_col, SPARK)).alias("toks"),
    )


def _marks(base: DataFrame, k: int, via: str = "join") -> DataFrame:
    """(doc_id, pos) for every K-window whose shingle repeats >= 2×
    corpus-wide. ``pos`` is the 0-based start token index.

    Two exact-identical strategies (pinned in
    tests/test_substring_dedup.py; measured at 1M docs in BASELINE's
    r11 window-vs-join section):

    - ``"join"`` (default): map-side-combined ``groupBy(shingle)``
      builds the duplicate set, then the exploded shingles re-join it.
      Costs TWO passes over the explode (Spark recomputes the
      un-reusable subplan), and measured SLOWER at every probed scale
      (1M docs idle box: 129.8 s vs window 85.5 s; with a planted
      hot shingle in 30% of docs: 128.3 s vs 47.6 s). It stays the
      default for the bounded-memory GUARANTEE: shuffle-hash
      aggregation never holds one key's full occurrence list, so no
      single boilerplate shingle — however hot — can outgrow a task.
    - ``"window"``: one pass + ONE shuffle — ``count() OVER
      (PARTITION BY shingle)`` — the measured fast path. Its cost
      model: each shingle's whole occurrence list buffers in ONE
      WindowExec partition (a 333k-occurrence hot shingle is a few MB
      and fine; a billions-of-occurrences boilerplate line at 100 TB
      is the case that spills or dies, which is why it is opt-in).
    """
    sh = base.select(
        "doc_id",
        F.posexplode(F.expr(word_shingles("toks", k, SPARK))).alias("pos", "s"),
    )
    if via == "window":
        w = Window.partitionBy("s")
        return (
            sh.withColumn("c", F.count("*").over(w))
            .filter("c >= 2")
            .select("doc_id", "pos")
        )
    if via != "join":
        raise ValueError(f"via must be 'join' or 'window', got {via!r}")
    dup = sh.groupBy("s").agg(F.count("*").alias("c")).filter("c >= 2").select("s")
    return sh.join(dup, "s").select("doc_id", "pos")


def _spans(marks: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands over each doc's mark starts: overlapping or
    adjacent K-windows merge into maximal spans (doc_id, s_start,
    s_end), 0-based token positions, end inclusive."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k - 1).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = marks.withColumn(
        "is_new",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s_start"),
        (F.max("pos") + k - 1).alias("s_end"),
    ).select("doc_id", "s_start", "s_end")


def duplicated_spans(
    docs: DataFrame,
    k: int = K_DEFAULT,
    text_col: str = "text",
    id_col: str = "doc_id",
    via: str = "join",
    tokens_col: str | None = None,
) -> DataFrame:
    """Maximal merged duplicate spans per document: (doc_id, s_start,
    s_end) in 0-based token positions, end inclusive. Overlapping or
    adjacent K-windows merge (gaps-and-islands over mark starts)."""
    base = _tokenized(docs, text_col, id_col, tokens_col)
    return _spans(_marks(base, k, via), k)


def substring_stats(
    docs: DataFrame,
    k: int = K_DEFAULT,
    text_col: str = "text",
    id_col: str = "doc_id",
    via: str = "join",
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-doc duplicated-token mass — output columns match the
    ``doc_substring_dedup`` gate exactly: (doc_id, n_words,
    n_dup_windows, n_spans, dup_tokens, dup_frac, clean)."""
    base = _tokenized(docs, text_col, id_col, tokens_col)
    st = base.select("doc_id", F.size("toks").alias("n_words"))
    marks = _marks(base.filter(F.size("toks") >= k), k, via)
    per_doc = _spans(marks, k).groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum(F.col("s_end") - F.col("s_start") + 1).cast("bigint").alias("dup_tokens"),
    )
    mark_counts = marks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_dup_windows")
    )

    dup_tokens = F.coalesce(F.col("dup_tokens"), F.lit(0))
    dup_frac = q6_col(
        F.when(F.col("n_words") == 0, F.lit(0.0)).otherwise(
            dup_tokens.cast("double") / F.col("n_words")
        )
    )
    return (
        st.join(per_doc, "doc_id", "left")
        .join(mark_counts, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("bigint").alias("n_words"),
            F.coalesce(F.col("n_dup_windows"), F.lit(0))
            .cast("bigint")
            .alias("n_dup_windows"),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
            dup_tokens.cast("bigint").alias("dup_tokens"),
            dup_frac.alias("dup_frac"),
            F.when(dup_tokens == 0, F.lit(1)).otherwise(F.lit(0)).alias("clean"),
        )
    )


def substring_trim(
    docs: DataFrame,
    k: int = K_DEFAULT,
    text_col: str = "text",
    id_col: str = "doc_id",
    via: str = "join",
    tokens_col: str | None = None,
    with_tokens: bool = False,
) -> DataFrame:
    """The actual Lee et al. trim: drop every token covered by a
    duplicated span and re-join the survivors. Returns (doc_id,
    text_trimmed, n_words, kept_words). The trimmed text is the
    space-joined surviving tokens (original inter-token whitespace is
    not preserved — tokenization already collapsed it, the same
    contract as the reference pass which operates on token streams).

    ``with_tokens=True`` additionally emits the surviving token ARRAY
    as ``toks_trimmed`` — the trim already knows the kept tokens, so a
    tokenize-once pipeline (operators/curation.py) gets the post-trim
    token column for free instead of re-tokenizing the rebuilt text.

    Scale: span positions explode to at most doc-length rows per doc,
    the anti-join is (doc_id, pos)-keyed, and reassembly is one per-doc
    aggregation with an array sort bounded by doc length.
    """
    base = _tokenized(docs, text_col, id_col, tokens_col)
    spans = duplicated_spans(docs, k, text_col, id_col, via, tokens_col)
    cut = spans.select(
        "doc_id", F.explode(F.sequence("s_start", "s_end")).alias("pos")
    )
    tok = base.select("doc_id", F.posexplode("toks").alias("pos", "w"))
    kept = tok.join(cut, ["doc_id", "pos"], "left_anti")
    kept_arr = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda x: x.w
    )
    aggs = [
        F.count("*").cast("bigint").alias("kept_words"),
        F.array_join(kept_arr, " ").alias("text_trimmed"),
    ]
    if with_tokens:
        aggs.append(kept_arr.alias("toks_trimmed"))
    rebuilt = kept.groupBy("doc_id").agg(*aggs)
    cols = [
        "doc_id",
        F.coalesce(F.col("text_trimmed"), F.lit("")).alias("text_trimmed"),
        "n_words",
        F.coalesce(F.col("kept_words"), F.lit(0)).cast("bigint").alias("kept_words"),
    ]
    if with_tokens:
        cols.append(
            F.coalesce(
                F.col("toks_trimmed"), F.array().cast("array<string>")
            ).alias("toks_trimmed")
        )
    return (
        base.select("doc_id", F.size("toks").cast("bigint").alias("n_words"))
        .join(rebuilt, "doc_id", "left")
        .select(*cols)
    )
