"""Canonical Parquet sources for the driver testdata (TESTDATA.md).

The reference's sources were NPZ files + JSON-over-HTTP payloads
(load_coco_embeddings.py:17-22, shard/shard_server.py:25-68); our
canonical source/sink is columnar Parquet, read declaratively so
Catalyst gets predicate pushdown and column pruning for free.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Analyzed-DataFrame cache per session: a parquet read costs ~70 ms of
# driver-side footer/schema work through Py4J, and catalog runners load
# the same table many times per run. Keyed by file (mtime, size) so the
# driver's in-place testdata regeneration invalidates stale plans
# instead of erroring on changed file metadata. A DataFrame is just an
# analyzed logical plan — caching it shares no executor state and every
# action re-reads the files, so this is metadata caching only (what a
# real deployment gets from a metastore catalog).
_LOADED: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


# r11 scan-parallelism floor (optimization guide §2.5, "input skew: one
# huge unsplittable file"). Parquet scans parallelize at ROW-GROUP
# granularity, and every driver testdata table is a single file with a
# single row group — so without intervention the scan stage (where all
# the per-row expression work lives: tokenize, n-gram md5, BLAS batches)
# runs on ONE core no matter the core count (measured: the langid
# scoring projection at sf0.1 is 9.3 s on the 1-row-group scan vs 0.8 s
# after a repartition on local[32]). The fix is the guide's own: when a
# table's actual split count (row groups, read from the parquet footer
# at plan time) is below what the session could use, repartition right
# after the read. Scale-adaptive by construction: the target follows
# defaultParallelism (the driver's lower-core bench runs get a matching
# lower fan-out) and real corpora stored as many files/row groups
# satisfy ``splits >= target`` and never pay the exchange.
#
# OPT-IN per call site (``load_table(..., spread=True)``), not blanket:
# an r11 A/B over the full bench showed the blanket form wins big
# exactly where scan-side expression work dominates a single table
# reference (minhash signatures −0.4 s, CC edge build −0.8 s, langid
# scoring 9.3→0.8 s) but taxes the other ~50 queries one extra
# exchange each — and queries that reference a table several times
# (drift +2.4 s, dsir +1.5 s) pay the repartition per reference. Tiny
# dimension tables stay un-spread via the rows/_MIN_ROWS_PER_SPLIT cap
# either way — shuffling 25 rows to 32 tasks buys nothing.
_MIN_ROWS_PER_SPLIT = 64


def _parquet_layout(path: str) -> tuple[int, int]:
    """(total_row_groups, total_rows) of the parquet file at ``path`` —
    footer metadata only, no data read."""
    import pyarrow.parquet as pq

    f = pq.ParquetFile(path)
    return f.metadata.num_row_groups, f.metadata.num_rows


def _spread_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    splits, rows = _parquet_layout(path)
    target = min(
        spark.sparkContext.defaultParallelism,
        max(1, rows // _MIN_ROWS_PER_SPLIT),
    )
    if splits < target:
        df = df.repartition(target)
    return df


def load_table(
    spark: SparkSession,
    name: str,
    sf_dir: str = DEFAULT_SF_DIR,
    spread: bool = False,
) -> DataFrame:
    """Load one testdata table.

    Side effect (deliberate, session-wide): pins
    ``spark.sql.session.timeZone=UTC`` and
    ``spark.sql.legacy.parquet.nanosAsLong=true`` on the caller's
    session, permanently — timestamp semantics of everything else run
    in that session afterwards change too, not just catalog queries.
    This is required for oracle parity when the caller is the driver
    harness (whose session we don't construct); callers that need a
    different zone must restore it themselves after catalog use.
    """
    # Some testdata generations store events.ts as TIMESTAMP(NANOS),
    # which Spark's Parquet reader rejects outright
    # (PARQUET_TYPE_ILLEGAL); nanosAsLong reads it as a long instead.
    # Current testdata is TIMESTAMP(MICROS), which reads natively —
    # rebuild only when the column actually came back as a long.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Timestamp semantics vs the DuckDB oracle (naive timestamps) are
    # only engine-independent under UTC. Our own sessions pin UTC in
    # get_spark, but the DRIVER's harness session is not ours — pin it
    # here so every declared query is UTC regardless of caller.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    key = (sf_dir, name, st.st_mtime_ns, st.st_size, spread)
    cache = _LOADED.setdefault(spark, {})
    hit = cache.get(key)
    if hit is not None:
        return hit
    df = spark.read.parquet(path)
    if name == "events":
        from pyspark.sql import functions as F

        dtype = dict(df.dtypes).get("ts")
        if dtype == "bigint":
            # Integer division: `/` on a long yields double, and at ~1.8e18 ns
            # the double ulp is 256 ns, shifting the rebuilt µs by ±1 vs
            # DuckDB's exact truncation (observed as a real wrong answer in
            # events_next_gap). `div` stays in long arithmetic.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dtype == "timestamp_ntz":
            # µs-parquet reads as TIMESTAMP_NTZ, but unix_micros()/window()
            # expect TIMESTAMP. The session timezone is pinned to UTC
            # (session.py), so the NTZ→LTZ cast is value-preserving and
            # matches DuckDB's naive-timestamp semantics exactly.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if spread:
        df = _spread_scan(spark, df, path)
    cache[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, sf_dir) for t in TABLES}


# Session-scoped registration cache. register_views costs ~0.9 s warm
# (10 parquet footer reads + 10 view registrations through Py4J) and the
# catalog calls it once per query — ~25 s of pure fixed overhead across
# a 33-query bench run, the single largest non-scan cost in the harness.
# The cache is keyed by the testdata fingerprint (mtime+size per file),
# so the driver's in-place per-round regeneration invalidates it, and it
# tracks the ACTIVE sf_dir: the views are global names, so switching
# sf_dirs in one session (tests do) must always re-register.
_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _sf_fingerprint(sf_dir: str) -> tuple:
    out = []
    for t in TABLES:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        out.append((t, st.st_mtime_ns, st.st_size))
    return tuple(out)


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so spark.sql() works on the
    same names the DuckDB oracle uses, plus ``documents_spread``: the
    documents scan repartitioned to the session's parallelism
    (``load_table(..., spread=True)``) for templates whose per-row work
    would otherwise run on one core. Idempotent and cached per
    (session, sf_dir, testdata fingerprint) — see _REGISTERED."""
    fp = _sf_fingerprint(sf_dir)
    state = _REGISTERED.get(spark)
    if state is not None and state.get("sf_dir") == sf_dir and state.get("fp") == fp:
        return
    for t in TABLES:
        load_table(spark, t, sf_dir).createOrReplaceTempView(t)
    load_table(spark, "documents", sf_dir, spread=True).createOrReplaceTempView(
        "documents_spread"
    )
    _REGISTERED[spark] = {"sf_dir": sf_dir, "fp": fp}


def queries_fixture(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, n: int = 20) -> DataFrame:
    """The deterministic query-set fixture from FIXTURES.md §1: the
    first ``n`` embeddings rows ordered by vec_id, self-queried (their
    nearest neighbor must be themselves at distance 0)."""
    emb = load_table(spark, "embeddings", sf_dir)
    from pyspark.sql import functions as F

    return (
        emb.orderBy("vec_id")
        .limit(n)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    )
