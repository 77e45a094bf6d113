"""Streaming ingest + event analytics (Structured Streaming).

The reference's ingest path is a polling HTTP batch loop
(load_coco_embeddings.py:38-115 → coordinator/coordinator.py:63-109):
chunk 1000 vectors, POST, sleep 1 s, verify stats. The Spark-native
continuous form is a file-source stream: new Parquet files landing in a
directory are LSH-bucketed and appended to the partitioned store
exactly-once (checkpointed offsets replace the reference's "verify via
stats round-trip" recovery).

Scale notes: the stream → store path has NO shuffle — bucket assignment
is a projection (pandas_udf), and ``partitionBy`` at the sink fans rows
into shard directories per writer task. At 100 TB/day the knobs are
``maxFilesPerTrigger`` (micro-batch sizing) and the store's
``files_per_shard`` spread; watermarked aggregations keep state bounded
regardless of input rate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from distributedvectordatabase_spark.sources.tombstones import writer_lease
from distributedvectordatabase_spark.sources.vector_store import VectorStore


def stream_ingest_vectors(
    spark,
    source_dir: str,
    store: VectorStore,
    checkpoint_dir: str,
    *,
    schema=None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Continuously ingest vector Parquet files into the bucketed store.

    readStream(parquet) → LSH shard assignment → append-mode partitioned
    Parquet sink. ``available_now=True`` drains the backlog and stops
    (batch-incremental, the test/backfill mode); otherwise runs until
    stopped. Exactly-once via the checkpoint.

    Delete interop: every row the stream lands carries one generation,
    allocated when the stream starts the way a delete burns its gen
    (``GenerationalStore._burn_gen``): under the store's writer lease
    (held for that one sidecar dump only, not for the stream's life —
    a live foreign writer raises ``WriterLeaseHeld``), after healing a
    crashed append's intent into the aborted list, and durable before
    any row lands. Deletes on a streamed store therefore behave exactly
    as on a batch-written one. One documented edge: a delete issued
    WHILE this stream runs covers rows the stream lands after it too
    (they share the stream's gen, which the delete out-ranks) — restart
    the stream to open a fresh generation if that matters.
    """
    reader = spark.readStream
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.schema(spark.read.parquet(source_dir).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    # a parquet streaming sink keeps a _spark_metadata transaction log
    # and batch reads then list ONLY sink-logged files — so streaming
    # into an existing batch-written store would instantly hide all its
    # rows. Refuse; the store lifecycle is stream era → compact()
    # finalize → batch era (see VectorStore.compact).
    import glob as _glob
    import os as _os

    if not _os.path.exists(_os.path.join(store.path, "_spark_metadata")):
        if _glob.glob(_os.path.join(store.path, "shard_id=*")):
            raise ValueError(
                "store already holds batch-written data; a streaming sink's "
                "_spark_metadata log would hide it from every read — stream "
                "into a fresh path (or keep using batch append)"
            )

    with writer_lease(store.path):
        gen = store._burn_gen()
    bucketed = store.lsh.assign(
        stream, vec_col=store.vec_col, out="shard_id"
    ).withColumn("_gen", F.lit(gen))

    writer = (
        bucketed.writeStream.format("parquet")
        .option("path", store.path)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("shard_id")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window event counts with late-data handling.

    Works on both a streaming and a batch DataFrame (same plan; the
    watermark is a no-op in batch, which is what makes this
    oracle-checkable — the batch run matches a date_trunc group-by).
    """
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # Engine-stable decimal quantization (catalog._dq form): each
            # double is floor-quantized to the decimal grid BEFORE the
            # decimal cast (a raw double->decimal cast rounds shortest-repr
            # in Spark but exact-binary in DuckDB, diverging at half
            # boundaries), then the exact decimal sum is scaled/floored in
            # decimal space and divided once — bit-identical to the oracle.
            F.expr(
                "cast(floor(sum(cast("
                "(cast(floor(value * cast(10000 as double) + cast(0.5 as double)) as bigint)"
                " / cast(10000 as double))"
                " as decimal(18,4))) * 10000 + 0.5)"
                " as bigint) / cast(10000 as double)"
            ).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup_documents(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    *,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming exact dedup: content-hash keep-first across the whole
    stream's history, exactly-once into a Parquet sink.

    ``dropDuplicates`` on a stream is state-backed — the hash set
    persists across micro-batches in the checkpoint, so a document seen
    in batch 0 is still suppressed in batch 400. Without a timestamp
    column the state grows with distinct content (the correct semantics
    for corpus dedup, where "seen once, ever" is the contract); when
    ``ts_col``/``watermark`` are given, dropDuplicatesWithinWatermark
    bounds state for feeds where only near-in-time repeats matter.
    Batch-equivalence (and hence the oracle form) is a plain group-by
    keep-first on md5(text) — tests assert the streamed sink matches.
    """
    reader = spark.readStream.schema(spark.read.parquet(source_dir).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    hashed = stream.withColumn("content_hash", F.md5(F.col(text_col)))
    if ts_col is not None and watermark is not None:
        deduped = hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["content_hash"]
        )
    else:
        deduped = hashed.dropDuplicates(["content_hash"])

    writer = (
        deduped.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionize_events(
    events: DataFrame,
    *,
    gap_minutes: int = 30,
    ts_col: str = "ts",
) -> DataFrame:
    """Stateful session assembly with ``applyInPandasWithState``.

    Custom stateful operator (the north-star "custom streaming operator"
    slot): per user, events sorted by time are folded into sessions
    closed by a ``gap_minutes`` quiet period. Emits one row per closed
    session; on a streaming input, open sessions are held in state and
    closed by processing-time timeout.

    In batch mode every session closes at end-of-input, so the output
    matches the window-function sessionization (catalog
    ``events_sessions`` aggregates the same gap rule), which gives this
    operator a deterministic correctness check.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    gap_us = gap_minutes * 60 * 1_000_000

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("last_us", LongType()),
            StructField("n", LongType()),
        ]
    )

    def fold(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                }
            )
            return

        ts_list: list[int] = []
        for pdf in pdf_iter:
            ts_list.extend(int(t.value // 1000) for t in pd.to_datetime(pdf[ts_col]))
        ts_list.sort()

        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = ts_list[0], ts_list[0], 0

        closed: list[tuple[int, int, int]] = []
        for t in ts_list:
            if n > 0 and t - last_us > gap_us:
                closed.append((start_us, last_us, n))
                start_us, n = t, 0
            last_us = max(last_us, t)
            n += 1

        state.update((start_us, last_us, n))
        state.setTimeoutDuration(gap_minutes * 60 * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                    "n_events": [c for _, _, c in closed],
                }
            )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def stream_knn_serve(
    spark,
    store: VectorStore,
    query_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    k: int = 10,
    pruned: bool = True,
    num_candidates: int = 2,
    metric: str = "l2sq",
    available_now: bool = True,
    schema: str = "qid long, qvec array<float>",
) -> StreamingQuery:
    """Continuous kNN serving: query batches land as Parquet files, each
    micro-batch is answered against the bucketed store, and results are
    written per batch — the Spark-native form of the reference's
    ``POST /search`` loop (coordinator/coordinator.py:132-254), with the
    micro-batch as the request batch.

    Exactly-once without a transactional sink: ``foreachBatch`` is
    at-least-once on retry, so each batch OVERWRITES its own
    ``batch=<id>`` subdirectory of ``out_dir`` — a replayed batch
    rewrites identical content instead of duplicating it (batch ids are
    stable across checkpoint recovery). Read results with
    ``spark.read.parquet(out_dir)``; the ``batch`` column is the
    micro-batch id.

    Scale notes: the store scan inside each micro-batch is the same
    partial-top-k plan as batch search — pruned probing keeps it at
    ~num_candidates/num_tables of a full scan; micro-batch sizing
    (``maxFilesPerTrigger`` upstream) bounds the broadcast query-batch
    size, which is the only driver-side state.
    """
    import os

    queries = spark.readStream.schema(schema).parquet(query_dir)

    def answer(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = store.knn(
            batch_df.sparkSession, batch_df, k=k, pruned=pruned,
            num_candidates=num_candidates, metric=metric,
        )
        # the batch=<id> directory name doubles as a discovered
        # partition column on read — don't also write a batch column
        res.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    writer = (
        queries.writeStream.foreachBatch(answer)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_neardup_ingest(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    sig_path: str,
    *,
    threshold: float = 0.7,
    bands: int = 4,
    rows: int = 3,
    shingle_n: int | None = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming incremental NEAR-dup curation: each micro-batch of new
    documents is checked against the accumulated corpus via the
    persistent :class:`~...sources.sig_store.SigStore` (band-bucket
    pruned join — the corpus is never re-signed), survivors land in the
    sink and their signatures append to the store, so batch N+1 is
    deduped against everything batch 0..N kept. The streaming form of
    the curation loop `stream_dedup_documents` covers for EXACT dups.

    Keep rule (deterministic): a document is dropped if it near-dups
    (verified Jaccard ≥ threshold) any previously KEPT corpus document,
    or any same-batch document with a smaller id (greedy keep-first —
    the same rule class as the exact-dedup keep-first; batch-sequential
    fold equivalence is pinned in tests/test_streaming.py).

    Exactly-once: each batch overwrites its own ``batch=<id>`` sink
    directory (replays rewrite identical bytes), and the batch id rides
    the SAME config dump that commits the signature append's gen
    (``SigStore.append(ingest_batch=...)`` — the GenerationalStore
    commit protocol), so "batch committed" and
    "signatures visible" are one atomic file write. A crash mid-append
    leaves orphan band/token rows above the committed horizon,
    invisible to every join; the replay heals them into the sidecar's
    aborted-gen list and re-appends under a fresh gen — never a
    duplicate signature served. The sink write itself stays idempotent
    (same-bytes overwrite); orphans cost dead bytes until
    ``compact()``.
    """
    import json
    import os

    from distributedvectordatabase_spark.operators.dedup import (
        minhash_neardup_pairs,
    )
    from distributedvectordatabase_spark.sources.sig_store import SigStore

    # pre-r7 stores recorded the marker in a separate file with a
    # non-atomic write; honor it as a floor when resuming one
    legacy_marker = os.path.join(sig_path, "_ingest_marker.json")

    def committed_batch() -> int:
        committed = SigStore(
            sig_path, bands=bands, rows=rows, shingle_n=shingle_n
        ).ingest_batch()
        if os.path.exists(legacy_marker):
            with open(legacy_marker) as f:
                committed = max(committed, int(json.load(f)["batch_id"]))
        return committed

    reader = spark.readStream.schema(spark.read.parquet(source_dir).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= committed_batch():
            return  # replayed batch whose signatures already committed
        if batch_df.isEmpty():
            return
        sig = SigStore(
            sig_path, bands=bands, rows=rows, shingle_n=shingle_n
        )
        batch = batch_df
        # 1) drop docs near-dupping the accumulated corpus
        if os.path.exists(os.path.join(sig_path, "_config.json")):
            hits = sig.join_batch(
                batch, threshold=threshold, id_col=id_col, text_col=text_col
            ).select(F.col("new_id").alias(id_col)).distinct()
            batch = batch.join(hits, id_col, "left_anti")
        # 2) greedy keep-first within the batch (drop the larger id of
        # every verified pair)
        pairs = minhash_neardup_pairs(
            batch, threshold=threshold, bands=bands, rows=rows,
            text_col=text_col, id_col=id_col, shingle_n=shingle_n,
        )
        losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
        survivors = batch.join(losers, id_col, "left_anti")
        # pin the survivor set: the sink write and the signature append
        # must see the SAME rows even if the source is non-deterministic
        survivors = survivors.localCheckpoint(eager=True)
        survivors.write.mode("overwrite").parquet(
            os.path.join(sink_dir, f"batch={batch_id}")
        )
        if os.path.exists(os.path.join(sig_path, "_config.json")):
            sig.append(survivors, id_col=id_col, text_col=text_col,
                       ingest_batch=batch_id)
        else:
            sig.build(survivors, id_col=id_col, text_col=text_col,
                      ingest_batch=batch_id)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_text_index_ingest(
    spark,
    source_dir: str,
    checkpoint_dir: str,
    index_path: str,
    *,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming posting ingest: each micro-batch of new documents is
    tokenized once and appended to a persistent
    :class:`~...sources.text_index.TextIndex`, so BM25 serving sees
    batch 0..N as soon as batch N commits — closing the streaming
    matrix (vectors stream via stream_ingest_vectors, signatures via
    stream_neardup_ingest, postings here). Caller owns doc-id
    uniqueness across batches, the same contract as TextIndex.append.

    Exactly-once: the batch id rides the SAME stats-sidecar dump that
    commits the append's gen and stats increments
    (``TextIndex.append(ingest_batch=...)``), so "batch committed" and
    "postings visible" are one atomic file write — no window where an
    append landed but its marker did not. A crash mid-append leaves
    orphan posting rows above the committed horizon, invisible to
    every read; the replay heals them into the sidecar's aborted-gen
    list and re-appends under a fresh gen (the GenerationalStore
    protocol), so served scores equal the sequential batch fold's
    exactly — never a double-counted batch (pinned in
    tests/test_streaming.py, including an injected crash between the
    data write and the commit). The first batch takes the build path,
    whose overwrite writes make its replay idempotent. Orphans cost
    dead bytes until ``compact()``.

    The foreachBatch append writes plain parquet — the index never
    enters a ``_spark_metadata`` sink era, so batch append/delete/
    compact stay legal on it throughout and after the stream (no
    finalize step needed, unlike the VectorStore streaming sink)."""
    import json
    import os

    from distributedvectordatabase_spark.sources.text_index import TextIndex

    # pre-r7 indexes recorded the marker in a separate file with a
    # non-atomic write; honor it as a floor when resuming one
    legacy_marker = os.path.join(index_path, "_ingest_marker.json")

    def committed_batch() -> int:
        ix = TextIndex(index_path, n_buckets=n_buckets)
        committed = ix.ingest_batch()
        if os.path.exists(legacy_marker):
            with open(legacy_marker) as f:
                committed = max(committed, int(json.load(f)["batch_id"]))
        return committed

    reader = spark.readStream.schema(spark.read.parquet(source_dir).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= committed_batch():
            return  # replayed batch that already committed atomically
        if batch_df.isEmpty():
            return
        ix = TextIndex(index_path, n_buckets=n_buckets)
        # pin the batch rows: the postings and doclens writes must see
        # the SAME rows even if the source re-lists non-deterministically
        batch = batch_df.localCheckpoint(eager=True)
        if os.path.exists(os.path.join(index_path, "_stats.json")):
            ix.append(batch, id_col=id_col, text_col=text_col,
                      ingest_batch=batch_id)
        else:
            ix.build(batch, id_col=id_col, text_col=text_col,
                     ingest_batch=batch_id)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ivf_ingest(
    spark,
    source_dir: str,
    checkpoint_dir: str,
    store_path: str,
    *,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming vector ingest into a pre-built
    :class:`~...sources.ivf_store.IVFStore`: each micro-batch is
    assigned to the EXISTING centroids and appended, so cell-pruned
    (and metadata-filtered) search sees batch 0..N as soon as batch N
    commits. The store must be built first — IVF centroids are trained
    offline by construction (``build()``), and streaming assignment
    against frozen centroids is the standard IVF ingest shape; a
    centroid refresh is a caller policy, same as ``append``.

    ``IVFStore.append`` already carries the whole sidecar lifecycle
    per batch — metadata columns, PQ/SQ code sync, and the crash-safe
    radius widening (radii grow BEFORE the data lands, so the filtered
    search bound stays a valid upper bound through a crash).

    Exactly-once: the batch id rides the SAME centroid-sidecar dump
    that commits the append's gen (``IVFStore.append(ingest_batch=``),
    so "batch committed" and "rows visible" are one atomic file write.
    A crash mid-append leaves orphan rows (raw and codes) above the
    committed horizon, invisible to every search; the replay heals
    them into the sidecar's aborted-gen list and re-appends under a
    fresh gen (the GenerationalStore protocol) — never a
    double-inserted batch. Radii widened by the crashed attempt stay
    merely conservative. Orphans cost dead bytes until ``compact()``.
    Plain-parquet appends — the store never enters a
    ``_spark_metadata`` sink era, so delete/compact stay legal
    throughout."""
    import json
    import os

    from distributedvectordatabase_spark.sources.ivf_store import IVFStore

    if not os.path.exists(os.path.join(store_path, "_centroids.json")):
        raise ValueError(
            "stream_ivf_ingest requires a built IVFStore (no centroid "
            "sidecar at {}): train cells with IVFStore.build() first, "
            "then stream appends against the frozen centroids".format(store_path)
        )
    # pre-r7 stores recorded the marker in a separate file with a
    # non-atomic write; honor it as a floor when resuming one
    legacy_marker = os.path.join(store_path, "_ingest_marker.json")

    def committed_batch() -> int:
        committed = IVFStore(store_path).ingest_batch()
        if os.path.exists(legacy_marker):
            with open(legacy_marker) as f:
                committed = max(committed, int(json.load(f)["batch_id"]))
        return committed

    reader = spark.readStream.schema(spark.read.parquet(source_dir).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= committed_batch():
            return  # replayed batch that already committed atomically
        if batch_df.isEmpty():
            return
        store = IVFStore(store_path)
        # pin the batch rows: append runs several actions (radius agg,
        # raw write, code writes) that must all see the SAME rows even
        # if the source re-lists non-deterministically
        store.append(
            batch_df.localCheckpoint(eager=True), ingest_batch=batch_id
        )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_tokenizer_ingest(
    spark,
    source_dir: str,
    checkpoint_dir: str,
    tok_path: str,
    *,
    n_merges: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    retrain_per_batch: bool = False,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming corpus registration into a
    :class:`~...sources.tokenizer_store.TokenizerStore` — the last
    store joins the streaming matrix (vectors, signatures, postings,
    IVF rows, and now tokenizer statistics all stream). Each
    micro-batch tokenizes ONCE and appends its per-doc word counts;
    because BPE is a pure function of the accumulated word
    frequencies, statistics folding is exact regardless of when the
    merge loop runs — so by default the stream registers counts only
    (``retrain_per_batch=False``) and the caller runs
    ``TokenizerStore.retrain(spark)`` once after the stream drains,
    yielding EXACTLY the tokenizer a fresh train over the full corpus
    would learn (pinned in tests/test_streaming.py).
    ``retrain_per_batch=True`` keeps a continuously-current tokenizer
    at O(n_merges x vocab) cost per batch. Caller owns doc-id
    uniqueness across batches.

    Exactly-once: the batch id rides the SAME config dump that commits
    the counts append's gen (``TokenizerStore.append(ingest_batch=``,
    the GenerationalStore protocol), so a crash mid-append leaves
    orphan counts invisible to every retrain and the replay folds the
    statistics exactly once. The first batch takes the initial
    registration path, whose overwrite writes make its replay
    idempotent."""
    from distributedvectordatabase_spark.sources.tokenizer_store import (
        TokenizerStore,
    )

    def committed_batch() -> int:
        return TokenizerStore(tok_path, n_merges=n_merges).ingest_batch()

    reader = spark.readStream.schema(spark.read.parquet(source_dir).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= committed_batch():
            return  # replayed batch that already committed atomically
        if batch_df.isEmpty():
            return
        tok = TokenizerStore(tok_path, n_merges=n_merges)
        # pin the batch rows: the counts write must see the SAME rows
        # even if the source re-lists non-deterministically
        batch = batch_df.localCheckpoint(eager=True)
        import os

        if os.path.exists(os.path.join(tok_path, "_config.json")):
            tok.append(batch, id_col=id_col, text_col=text_col,
                       retrain=retrain_per_batch, ingest_batch=batch_id)
        else:
            tok._register_initial(batch, id_col, text_col,
                                  ingest_batch=batch_id)
            if retrain_per_batch:
                tok.retrain(spark)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
