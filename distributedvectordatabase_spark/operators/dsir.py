"""DSIR data selection (Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling") — the DataFrame scale path that
the ``doc_dsir_weights`` gate runs on Spark (``dsir_weights`` with the
corpus's ``lang = 'en'`` slice as target, plus the gate's rank column);
the gate's oracle is the SQL template catalog._q_doc_dsir_weights.

Select pretraining documents whose hashed-n-gram profile looks like a
target corpus: features are unigrams + word bigrams hashed into a
fixed bucket space, each bucket gets a smoothed log-ratio
λ_b = ln(p_target(b) / p_raw(b)), and a document's importance weight
is Σ_b n_b(doc)·λ_b. Selection takes the highest-weight documents.

100 TB shape:

- The raw corpus is touched ONCE (tokenize + shingle + per-(doc, term)
  count, all map-side-combinable); bucket folding bounds per-doc state
  at ``buckets`` rows.
- The λ table is ``buckets`` rows regardless of corpus size — it
  broadcasts, so scoring is a map-side join + one per-doc aggregation.
  No corpus-vs-corpus join anywhere.
- Selection is ``sort+limit`` → Spark's TakeOrderedAndProject (partial
  top-k per partition, no global sort/window). The gate's SQL form
  uses a global row_number() only because the driver needs every row.
- The only ``.collect()``s are two single-row totals (O(1), bounded).

Determinism matches the template bit-for-bit (pinned in tests/test_dsir.py):
the λ argument is one IEEE division of exact integer products, λ is
floor-quantized to micro-units, weights are exact bigint dot products.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import SPARK, hash64, tokens, word_shingles

BUCKETS = 512


def _bucket_expr(buckets: int) -> str:
    return f"{hash64('s', SPARK)} % {buckets}"


def hashed_feature_counts(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = BUCKETS,
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-(doc, bucket) feature counts: unigrams + word bigrams hashed
    into ``buckets``. One corpus pass; output ≤ buckets rows per doc.

    The bucket hash is applied PER OCCURRENCE, before any aggregation,
    so the only groupBy key is (doc_id:long, bkt:long) — a fixed-width
    Tungsten-friendly pair whose partial-aggregate state is bounded by
    docs × buckets however large the vocabulary or corpus. Grouping by
    the term string first (the SQL gate's shape, fine at gate scale)
    holds a string-keyed hash map over every distinct (doc, term) pair
    — measured as the heap ceiling at the 1M-doc probe. Extra md5
    calls per occurrence are scan-rate work, the same cost class as
    the MinHash/decontam shingle hashing.

    ``tokens_col`` names an existing ``array<string>`` column to use
    instead of re-tokenizing ``text_col`` (tokenize-once, r11)."""
    toks_expr = (
        F.col(tokens_col) if tokens_col is not None
        else F.expr(tokens(text_col, SPARK))
    )
    base = docs.select(F.col(id_col).alias("doc_id"), toks_expr.alias("toks"))
    uni = base.select("doc_id", F.explode("toks").alias("s"))
    big = base.select("doc_id", F.explode(F.expr(word_shingles("toks", 2, SPARK))).alias("s"))
    occ = uni.unionAll(big).select("doc_id", F.expr(_bucket_expr(buckets)).alias("bkt"))
    return occ.groupBy("doc_id", "bkt").agg(F.count("*").cast("bigint").alias("k"))


def fit_logratios(
    counts: DataFrame, target_ids: DataFrame, buckets: int = BUCKETS
) -> DataFrame:
    """λ table (bkt, lam_u): micro-quantized add-one-smoothed
    ln(p_target/p_raw) per bucket. ONE aggregation job computes raw and
    target counts per bucket together (the target membership flag is a
    broadcast join — target corpora are small by construction), the
    ≤ ``buckets``-row result is collected once for the two scalar
    totals, and λ evaluates over those same rows as a local frame —
    with ``ln`` still computed BY SPARK on exact integer products, so
    the result is bit-identical to the SQL gate's per-engine log
    (driver-side math.log could round differently than the JVM's).
    Returns ≤ ``buckets`` rows — broadcast it into scoring."""
    flagged = counts.join(
        F.broadcast(target_ids.select("doc_id").withColumn("_tgt", F.lit(1))),
        "doc_id",
        "left",
    )
    per_bkt = (
        flagged.groupBy("bkt")
        .agg(
            F.sum("k").cast("bigint").alias("rc"),
            F.coalesce(
                F.sum(F.when(F.col("_tgt") == 1, F.col("k"))), F.lit(0)
            ).cast("bigint").alias("tc"),
        )
        .collect()  # bounded: one row per bucket
    )
    rtot = sum(r.rc for r in per_bkt) + buckets
    ttot = sum(r.tc for r in per_bkt) + buckets
    lam_u = (
        f"cast(floor(ln(cast((tc + 1) * {rtot} as double)"
        f" / cast((rc + 1) * {ttot} as double))"
        " * cast(1000000 as double) + cast(0.5 as double)) as bigint)"
    )
    spark = counts.sparkSession
    rows = [(int(r.bkt), int(r.rc), int(r.tc)) for r in per_bkt]
    local = spark.createDataFrame(rows or [], "bkt bigint, rc bigint, tc bigint")
    return local.select("bkt", F.expr(lam_u).alias("lam_u"))


def importance_weights(counts: DataFrame, lam: DataFrame) -> DataFrame:
    """Per-doc importance weight: exact bigint dot product of the doc's
    bucket counts with the broadcast λ table."""
    return (
        counts.join(F.broadcast(lam), "bkt")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_feats"),
            F.sum(F.col("k") * F.col("lam_u")).cast("bigint").alias("weight_micro"),
        )
        .withColumn("weight", F.col("weight_micro").cast("double") / F.lit(1000000.0))
    )


def dsir_weights(
    docs: DataFrame,
    target_ids: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = BUCKETS,
    tokens_col: str | None = None,
) -> DataFrame:
    """End-to-end: feature counts → λ fit → per-doc weights."""
    counts = hashed_feature_counts(docs, text_col, id_col, buckets, tokens_col)
    lam = fit_logratios(counts, target_ids, buckets)
    return importance_weights(counts, lam)


def dsir_select(weights: DataFrame, k: int) -> DataFrame:
    """Top-k documents by importance weight (ties broken by doc_id for
    reproducibility). sort+limit → TakeOrderedAndProject: partial
    top-k per partition, no global sort — the selection plan that
    survives a 100 TB corpus."""
    return weights.orderBy(F.col("weight_micro").desc(), F.col("doc_id")).limit(int(k))
