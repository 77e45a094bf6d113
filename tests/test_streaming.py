"""Structured Streaming tests: exactly-once bucketed ingest, watermarked
windowed aggregation (oracle-checked in batch mode), and the custom
stateful sessionization operator (applyInPandasWithState), checked
against the window-function sessionization the DuckDB oracle runs."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from distributedvectordatabase_spark.sources.tables import load_table
from distributedvectordatabase_spark.sources.vector_store import VectorStore
from distributedvectordatabase_spark.streaming import (
    sessionize_events,
    stream_ingest_vectors,
    windowed_event_counts,
)
from tests.conftest import SF_SMALL, assert_matches_oracle


def test_stream_ingest_matches_batch_write(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    shutil.copy(
        os.path.join(SF_SMALL, "embeddings.parquet"), src / "batch0.parquet"
    )
    store = VectorStore(str(tmp_path / "stream_store"))
    q = stream_ingest_vectors(spark, str(src), store, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert q.exception() is None

    batch_store = VectorStore(str(tmp_path / "batch_store"))
    batch_store.write(load_table(spark, "embeddings", SF_SMALL))

    got = {
        (r.shard_id, r.n) for r in
        store.read(spark).groupBy("shard_id").agg(F.count("*").alias("n")).collect()
    }
    want = {
        (r.shard_id, r.n) for r in
        batch_store.read(spark).groupBy("shard_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want and sum(n for _, n in got) == 500


def test_stream_ingest_appends_incrementally(spark, tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    emb = load_table(spark, "embeddings", SF_SMALL)

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
        shutil.move(str(part), src / f"{name}.parquet")

    land(emb.filter(F.col("vec_id") < 100), "f0")
    store = VectorStore(str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")

    q = stream_ingest_vectors(spark, str(src), store, ckpt)
    q.awaitTermination(120)
    assert store.read(spark).count() == 100

    # second file lands; restart drains only the new data (checkpointed)
    land(emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 150)), "f1")
    q = stream_ingest_vectors(spark, str(src), store, ckpt)
    q.awaitTermination(120)
    assert store.read(spark).count() == 150


def test_stream_ingest_kill_and_resume_exactly_once(spark, tmp_path):
    """Exactly-once under restart: kill the ingest mid-backlog, restart
    from the checkpoint, and the store holds each input row exactly
    once — no replayed duplicates (the file-sink transaction log drops
    uncommitted batch output), no losses (unprocessed files re-read).
    This is the recovery semantics the reference approximates with its
    'verify via stats round-trip' polling (load_coco_embeddings.py:
    38-115); Spark's checkpoint makes it a guarantee, not a retry."""
    import time

    src = tmp_path / "incoming"
    src.mkdir()
    emb = load_table(spark, "embeddings", SF_SMALL)

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
        shutil.move(str(part), src / f"{name}.parquet")

    bounds = [0, 125, 250, 375, 500]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        land(emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), f"f{i}")

    store = VectorStore(str(tmp_path / "store"))
    ckpt = str(tmp_path / "ckpt")

    # one source file per micro-batch so there IS a mid-backlog moment
    q = stream_ingest_vectors(
        spark, str(src), store, ckpt, max_files_per_trigger=1
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q.recentProgress):
            break
        time.sleep(0.2)
    q.stop()  # kill mid-backlog (at least one batch committed, others pending)
    q.awaitTermination(60)

    # restart from the same checkpoint; drain the rest
    q = stream_ingest_vectors(
        spark, str(src), store, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(120)
    assert q.exception() is None

    got = store.read(spark)
    assert got.count() == 500
    assert got.select("vec_id").distinct().count() == 500


def test_stream_dedup_matches_batch_keep_first(spark, tmp_path):
    """Streamed content-hash dedup must equal the batch distinct-hash
    set, with suppression working ACROSS micro-batches (state in the
    checkpoint, not per-batch dropDuplicates)."""
    from distributedvectordatabase_spark.streaming import stream_dedup_documents

    docs = load_table(spark, "documents", SF_SMALL)
    src = tmp_path / "incoming"
    src.mkdir()

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
        shutil.move(str(part), src / f"{name}.parquet")

    # two files with overlapping content: f1 re-ships docs 0..19
    land(docs.filter(F.col("doc_id") < 40), "f0")
    land(docs.filter(F.col("doc_id") < 20), "f1")

    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    q = stream_dedup_documents(
        spark, str(src), sink, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(120)
    assert q.exception() is None

    got = spark.read.parquet(sink)
    n_hashes = (
        docs.filter(F.col("doc_id") < 40)
        .select(F.md5("text").alias("h")).distinct().count()
    )
    assert got.count() == n_hashes
    assert got.select("content_hash").distinct().count() == n_hashes

    # exactly-once: re-running against the same checkpoint adds nothing
    q = stream_dedup_documents(spark, str(src), sink, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == n_hashes

    # state recovery: a restart must RELOAD the seen-hash state, so
    # duplicates of long-finished batches stay suppressed while genuinely
    # new content passes
    land(docs.filter(F.col("doc_id") < 30), "f2_all_dups")
    land(docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 50)), "f3_new")
    q = stream_dedup_documents(spark, str(src), sink, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)
    assert q.exception() is None
    n_hashes2 = (
        docs.filter(F.col("doc_id") < 50)
        .select(F.md5("text").alias("h")).distinct().count()
    )
    assert spark.read.parquet(sink).count() == n_hashes2


def test_windowed_event_counts_matches_oracle(spark, oracle):
    ev = load_table(spark, "events", "/root/testdata/sf0.01")
    got = windowed_event_counts(ev, window="1 hour")
    assert_matches_oracle(
        got,
        oracle,
        """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
               event_type, count(*) AS n_events,
               round((sum(value::DECIMAL(18,4)))::DOUBLE, 6) AS sum_value
        FROM events GROUP BY 1, 2
        """,
    )


def test_windowed_event_counts_streaming_mode(spark, tmp_path):
    ev = load_table(spark, "events", SF_SMALL)
    evs = str(tmp_path / "ev")
    ev.write.parquet(evs)
    stream = spark.readStream.schema(ev.schema).parquet(evs)
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    assert agg.isStreaming
    q = (
        agg.writeStream.format("memory")
        .queryName("win_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    got = spark.sql("select sum(n_events) from win_stream").first()[0]
    assert got == ev.count()


@pytest.fixture(scope="module")
def closed_sessions(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("sess")
    ev = load_table(spark, "events", SF_SMALL)
    evs = str(tmp / "ev")
    ev.write.parquet(evs)
    stream = spark.readStream.schema(ev.schema).parquet(evs)
    q = (
        sessionize_events(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # A stateful session-window query under availableNow never
    # self-terminates on this Spark version: after the last data batch
    # commits it sits in a perpetual "No new data but cleaning up
    # state" trigger, so a bare awaitTermination(180) burned the full
    # 180 s AND leaked the still-active query into the rest of the
    # suite (r12). Wait for the sink to have received everything —
    # a batch has completed, no data is available and no trigger is
    # running (the structured status fields), or the no-new-data
    # cleanup trigger was reached (the message text, whose wording can
    # change between Spark versions) — then stop it explicitly.
    import time as _time

    deadline = _time.time() + 180
    while _time.time() < deadline and q.isActive:
        st = q.status
        idle = not st["isTriggerActive"] and q.lastProgress is not None
        if not st["isDataAvailable"] and (
            idle or st["message"].startswith("No new data")
        ):
            break
        _time.sleep(0.5)
    assert q.exception() is None
    out = spark.sql("select * from sessions_out").toPandas()
    q.stop()
    q.awaitTermination(60)
    return out


def test_sessionize_closed_count_matches_window_sessionization(spark, closed_sessions):
    """In a single micro-batch every session except each user's last is
    closed by the gap rule, so closed = total_sessions - n_users where
    total_sessions comes from the lag-based window sessionization (the
    same 30-min gap semantics as catalog events_sessions)."""
    ev = load_table(spark, "events", SF_SMALL)
    gap_us = 30 * 60 * 1_000_000
    lagged = ev.withColumn(
        "prev",
        F.lag(F.unix_micros("ts")).over(
            __import__("pyspark").sql.Window.partitionBy("user_id").orderBy("ts", "event_id")
        ),
    )
    total_sessions = lagged.filter(
        F.col("prev").isNull() | (F.unix_micros("ts") - F.col("prev") > gap_us)
    ).count()
    n_users = ev.select("user_id").distinct().count()
    assert len(closed_sessions) == total_sessions - n_users


def test_sessionize_session_invariants(closed_sessions):
    pdf = closed_sessions
    assert (pdf["session_end"] >= pdf["session_start"]).all()
    assert (pdf["n_events"] >= 1).all()
    # sessions of one user never overlap
    for _, g in pdf.groupby("user_id"):
        g = g.sort_values("session_start")
        assert (g["session_start"].iloc[1:].values > g["session_end"].iloc[:-1].values).all()


def test_watermark_append_mode_finalizes_windows(spark, tmp_path):
    """Append-mode windowed agg across two micro-batches: after the
    watermark passes a window's end, the window emits exactly once and
    a late row for it is dropped rather than re-emitted."""
    import datetime as dt

    schema = "event_id long, user_id long, ts timestamp, event_type string, value double, props string"

    def mk(rows, name):
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.parquet(
            str(tmp_path / "stage" / name)
        )
        part = next(
            p
            for p in (tmp_path / "stage" / name).iterdir()
            if p.name.endswith(".parquet")
        )
        (tmp_path / "src").mkdir(exist_ok=True)
        shutil.move(str(part), tmp_path / "src" / f"{name}.parquet")

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    late = dt.datetime(2024, 1, 1, 0, 45)  # falls in the 00:00 window
    ahead = dt.datetime(2024, 1, 1, 6, 0)  # advances the watermark far past it
    mk([(1, 1, t0, "click", 1.0, "{}")], "b0")

    stream = spark.readStream.schema(
        spark.read.parquet(str(tmp_path / "src")).schema
    ).option("maxFilesPerTrigger", 1).parquet(str(tmp_path / "src"))
    agg = windowed_event_counts(stream, window="1 hour", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_append")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    first = spark.sql("select * from wm_append").collect()
    # watermark hasn't passed 01:00 yet → nothing finalized
    assert len(first) == 0

    # batch 2: an event far in the future (advances watermark past 00:00
    # window) plus a late row for the already-watermarked window
    mk([(2, 1, ahead, "click", 1.0, "{}"), (3, 1, late, "click", 1.0, "{}")], "b1")
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_append2")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    rows = {
        (r.window_start, r.n_events)
        for r in spark.sql("select * from wm_append2").collect()
    }
    # the 00:00 window finalized counting the on-time + late-but-within-
    # watermark rows available when it closed; the 06:00 window is still
    # open (watermark hasn't passed it) so it must NOT appear
    assert ("2024-01-01 00:00", 2) in rows
    assert all(ws != "2024-01-01 06:00" for ws, _ in rows)


def _write_query_file(spark, emb, lo, hi, dest_file):
    """Write one query batch as a single parquet FILE (the stream
    source lists files, not subdirectories)."""
    import glob
    import shutil as _sh

    tmp = str(dest_file) + "__tmp"
    (
        emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    _sh.move(part, str(dest_file))
    _sh.rmtree(tmp)


def test_stream_knn_serve_matches_batch_and_resumes(spark, tmp_path):
    """Query files stream in, each micro-batch is answered against the
    store, results land idempotently per batch; a restart from the
    checkpoint answers only the new queries."""
    from distributedvectordatabase_spark.streaming import stream_knn_serve

    store = VectorStore(str(tmp_path / "store"))
    emb = load_table(spark, "embeddings", SF_SMALL)
    store.write(emb)

    qdir, out, ckpt = tmp_path / "queries", tmp_path / "answers", tmp_path / "ckpt"
    qdir.mkdir()
    _write_query_file(spark, emb, 0, 5, qdir / "q0.parquet")

    q = stream_knn_serve(spark, store, str(qdir), str(out), str(ckpt), k=5)
    q.awaitTermination(120)
    assert q.exception() is None

    got = spark.read.parquet(str(out))
    want = store.knn(
        spark,
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        ),
        k=5,
    )
    canon = lambda df: sorted(
        (r.qid, r.neighbor_id, r.rnk) for r in df.select("qid", "neighbor_id", "rnk").collect()
    )
    assert canon(got) == canon(want)
    assert {r.qid for r in got.collect()} == {0, 1, 2, 3, 4}

    # new query file + same checkpoint: only the new batch is answered
    _write_query_file(spark, emb, 5, 8, qdir / "q1.parquet")
    q2 = stream_knn_serve(spark, store, str(qdir), str(out), str(ckpt), k=5)
    q2.awaitTermination(120)
    assert q2.exception() is None
    all_res = spark.read.parquet(str(out))
    assert {r.qid for r in all_res.collect()} == set(range(8))
    assert all_res.count() == 8 * 5
    # batch partition column discovered from the directory layout
    assert all_res.select("batch").distinct().count() == 2


def test_stream_neardup_ingest_matches_sequential_fold(spark, tmp_path):
    """Streaming near-dup curation over the SigStore must equal the
    sequential batch fold of the same keep rule: drop a doc if it
    verified-near-dups any previously KEPT doc or a smaller-id doc in
    its own batch — and the signature store must accumulate exactly
    the survivors."""
    from distributedvectordatabase_spark.operators.dedup import (
        minhash_neardup_join,
        minhash_neardup_pairs,
    )
    from distributedvectordatabase_spark.streaming.ingest import (
        stream_neardup_ingest,
    )

    docs = load_table(spark, "documents", SF_SMALL)
    src = tmp_path / "incoming"
    src.mkdir()

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
        shutil.move(str(part), src / f"{name}.parquet")

    batches = [
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 == 1),
        docs.filter(F.col("doc_id") % 3 == 2),
    ]
    for i, b in enumerate(batches):
        land(b, f"f{i}")

    kw = dict(threshold=0.7, bands=4, rows=3, shingle_n=3)
    sink = str(tmp_path / "sink")
    sig_path = str(tmp_path / "sig")
    q = stream_neardup_ingest(
        spark, str(src), sink, str(tmp_path / "ckpt"), sig_path,
        max_files_per_trigger=1, **kw,
    )
    q.awaitTermination(180)
    assert q.exception() is None

    got = {r.doc_id for r in spark.read.parquet(sink).select("doc_id").collect()}

    # sequential fold oracle (file order == doc_id % 3 order because
    # maxFilesPerTrigger=1 consumes files in landing order)
    kept: set[int] = set()
    kept_df = None
    for b in batches:
        if kept_df is not None:
            hits = minhash_neardup_join(b, kept_df, **kw)
            drop = {r.new_id for r in hits.select("new_id").distinct().collect()}
            b = b.filter(~F.col("doc_id").isin(list(drop)) if drop else F.lit(True))
        pairs = minhash_neardup_pairs(b, **kw)
        losers = {r.doc_b for r in pairs.select("doc_b").distinct().collect()}
        if losers:
            b = b.filter(~F.col("doc_id").isin(list(losers)))
        kept |= {r.doc_id for r in b.select("doc_id").collect()}
        kept_df = docs.filter(F.col("doc_id").isin(list(kept)))

    assert got == kept
    assert len(got) > 0 and len(got) < docs.count()  # something dropped

    # the signature store holds exactly the survivors
    from distributedvectordatabase_spark.sources.sig_store import SigStore

    sig = SigStore(sig_path)
    assert {
        r.doc_id for r in sig.corpus_toks(spark).select("doc_id").collect()
    } == got

    # replay idempotency: re-running the finished stream with the same
    # checkpoint adds nothing to sink or store
    q = stream_neardup_ingest(
        spark, str(src), sink, str(tmp_path / "ckpt"), sig_path,
        max_files_per_trigger=1, **kw,
    )
    q.awaitTermination(180)
    assert {r.doc_id for r in spark.read.parquet(sink).select("doc_id").collect()} == got
    assert sig.corpus_toks(spark).count() == len(got)


def test_streamed_store_delete_and_sink_finalize_lifecycle(spark, tmp_path):
    """Streamed stores follow the sink lifecycle: rows carry the
    stream's gen so merge-on-read delete works during the sink era;
    batch append is REFUSED while _spark_metadata exists (sink-logged
    reads would never see the appended file — the silent-loss bug this
    guard closes); compact() finalizes the sink, after which append
    re-inserting a deleted id works and survives its tombstone."""
    import os

    from distributedvectordatabase_spark.functions.lsh import SignLSH
    from distributedvectordatabase_spark.sources.vector_store import VectorStore
    from distributedvectordatabase_spark.streaming.ingest import (
        stream_ingest_vectors,
    )

    emb = load_table(spark, "embeddings", SF_SMALL).limit(100)
    src = tmp_path / "vin"
    src.mkdir()
    emb.coalesce(1).write.mode("overwrite").parquet(str(src / "b0"))
    # stream reads the flat dir of parquet files
    for p in (src / "b0").iterdir():
        if p.name.endswith(".parquet"):
            shutil.move(str(p), src / "f0.parquet")
    shutil.rmtree(src / "b0")

    store = VectorStore(str(tmp_path / "vstore"), SignLSH(dim=64))
    q = stream_ingest_vectors(
        spark, str(src), store, str(tmp_path / "vckpt"), available_now=True
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert "_gen" in spark.read.parquet(store.path).columns
    assert store.read(spark).count() == 100

    # delete works during the sink era
    store.delete(spark, [0, 1])
    assert store.read(spark).count() == 98

    # batch append during the sink era is refused, not silently lost
    row = emb.filter(F.col("vec_id") == 0)
    with pytest.raises(ValueError, match="streaming sink"):
        store.append(row)

    # finalize: sink log folded away, batch era begins
    store.compact(spark)
    assert not os.path.exists(os.path.join(store.path, "_spark_metadata"))
    assert store.read(spark).count() == 98
    store.append(row)  # re-insert a deleted id: out-gens its tombstone
    assert store.read(spark).count() == 99
    assert store.read(spark).filter(F.col("vec_id") == 0).count() == 1

    # and streaming into a batch-era store is refused for the same reason
    with pytest.raises(ValueError, match="batch-written"):
        stream_ingest_vectors(
            spark, str(src), store, str(tmp_path / "vckpt2"), available_now=True
        )


def _one_file_source(spark, tmp_path, n):
    """A stream source dir holding the first ``n`` embeddings rows as
    one parquet file."""
    stage, src = tmp_path / "stage", tmp_path / "vin"
    src.mkdir()
    load_table(spark, "embeddings", SF_SMALL).limit(n).coalesce(1).write.parquet(
        str(stage)
    )
    part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
    shutil.move(str(part), src / "f0.parquet")
    return str(src)


def test_stream_ingest_heals_a_crashed_append_before_taking_its_gen(
    spark, tmp_path
):
    """A stream started over a crashed append's intent must heal that
    intent and take a FRESH gen: the stale ``pending_gen`` later heals
    into the aborted list, so rows landed at that gen would vanish."""
    p = str(tmp_path / "vstore")
    VectorStore(p)._write_lsh_config(gen=0, pending_gen=1)
    store = VectorStore(p)
    q = stream_ingest_vectors(
        spark, _one_file_source(spark, tmp_path, 50), store,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert q.exception() is None
    store.delete(spark, [0])
    assert store.read(spark).count() == 49


def test_stream_ingest_refuses_a_live_writer(spark, tmp_path):
    """The stream's gen allocation rewrites the sidecar, so it takes
    the writer lease: a live foreign writer refuses the stream and the
    sidecar is untouched."""
    import json
    import time

    from distributedvectordatabase_spark.sources.tombstones import (
        WriterLeaseHeld,
    )

    p = str(tmp_path / "vstore")
    VectorStore(p)._write_lsh_config(gen=3)
    with open(os.path.join(p, "_lsh.json"), "rb") as f:
        before = f.read()
    with open(p + "__writer.lock", "w") as f:  # pid 1 is always alive
        json.dump({"pid": 1, "ts": time.time(), "host": os.uname().nodename}, f)
    with pytest.raises(WriterLeaseHeld):
        stream_ingest_vectors(
            spark, _one_file_source(spark, tmp_path, 10), VectorStore(p),
            str(tmp_path / "ckpt"),
        )
    with open(os.path.join(p, "_lsh.json"), "rb") as f:
        assert f.read() == before


def test_stream_text_index_ingest_matches_batch_fold(spark, tmp_path):
    """Streaming posting ingest (r6): after the stream drains, BM25
    over the streamed index must be byte-identical to a fresh build
    over the union of batches; a replay with the same checkpoint adds
    nothing (committed-batch marker), and take-downs work on the
    streamed index (no sink era to finalize)."""
    from distributedvectordatabase_spark.sources.text_index import TextIndex
    from distributedvectordatabase_spark.streaming.ingest import (
        stream_text_index_ingest,
    )

    docs = load_table(spark, "documents", SF_SMALL)
    src = tmp_path / "incoming"
    src.mkdir()

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
        shutil.move(str(part), src / f"{name}.parquet")

    batches = [
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 == 1),
        docs.filter(F.col("doc_id") % 3 == 2),
    ]
    for i, b in enumerate(batches):
        land(b, f"f{i}")

    ix_path = str(tmp_path / "tix")
    q = stream_text_index_ingest(
        spark, str(src), str(tmp_path / "ckpt"), ix_path,
        n_buckets=8, max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    assert q.exception() is None

    terms = ["dup", "vector", "query"]
    streamed = TextIndex(ix_path)
    fresh = TextIndex(str(tmp_path / "fresh"), n_buckets=8)
    fresh.build(docs)
    got = [
        (r.doc_id, r.score, r.rnk)
        for r in streamed.bm25(spark, terms, k=10).collect()
    ]
    want = [
        (r.doc_id, r.score, r.rnk)
        for r in fresh.bm25(spark, terms, k=10).collect()
    ]
    assert got == want
    assert streamed.stats()["n_docs"] == docs.count()

    # replay idempotency: marker + checkpoint make the rerun a no-op
    q = stream_text_index_ingest(
        spark, str(src), str(tmp_path / "ckpt"), ix_path,
        n_buckets=8, max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    assert streamed.stats()["n_docs"] == docs.count()
    assert [
        (r.doc_id, r.score, r.rnk)
        for r in streamed.bm25(spark, terms, k=10).collect()
    ] == want

    # the streamed index never enters a sink era: delete works directly
    victim = want[0][0]
    streamed.delete(spark, [victim])
    assert victim not in {
        r.doc_id for r in streamed.bm25(spark, terms, k=10).collect()
    }


def test_stream_ivf_ingest_matches_batch_append(spark, tmp_path):
    """Streaming IVF ingest = build(seed) + append(batch) fold: same
    rows, same cell assignments (frozen centroids), radii stay valid
    upper bounds, and replay — same checkpoint OR a fresh one hitting
    the committed-batch marker — adds nothing."""
    import json

    import numpy as np

    from distributedvectordatabase_spark.sources.ivf_store import IVFStore
    from distributedvectordatabase_spark.streaming.ingest import stream_ivf_ingest

    emb = load_table(spark, "embeddings", SF_SMALL)
    seed_df = emb.filter(F.col("vec_id") < 200)
    b1 = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 350))
    b2 = emb.filter(F.col("vec_id") >= 350)

    # an unbuilt store refuses streaming: centroids are trained
    # offline by construction
    with pytest.raises(ValueError, match="built IVFStore"):
        stream_ivf_ingest(
            spark, str(tmp_path / "nosrc"), str(tmp_path / "c0"),
            str(tmp_path / "unbuilt"),
        )

    s_path = str(tmp_path / "streamed")
    streamed = IVFStore(s_path, n_cells=8)
    streamed.build(seed_df)

    src = tmp_path / "incoming"
    src.mkdir()

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
        shutil.move(str(part), src / f"{name}.parquet")

    land(b1, "f0")
    land(b2, "f1")
    q = stream_ivf_ingest(
        spark, str(src), str(tmp_path / "ckpt"), s_path, max_files_per_trigger=1
    )
    q.awaitTermination(180)
    assert q.exception() is None

    # oracle: identical build + sequential batch appends (same seed ->
    # same centroids -> assignment must match bit-for-bit)
    oracle = IVFStore(str(tmp_path / "batch"), n_cells=8)
    oracle.build(seed_df)
    oracle.append(b1)
    oracle.append(b2)

    got = {
        (r.vec_id, r.cell_id)
        for r in streamed.read(spark).select("vec_id", "cell_id").collect()
    }
    want = {
        (r.vec_id, r.cell_id)
        for r in oracle.read(spark).select("vec_id", "cell_id").collect()
    }
    assert got == want and len(got) == 500

    # radii widened through the appends: every row within its cell's
    # recorded radius (the filtered-search pruning bound stays valid)
    C = streamed.centroids()
    radii = streamed.cell_radii()
    for r in streamed.read(spark).select("embedding", "cell_id").collect():
        d = float(np.linalg.norm(np.array(r.embedding) - C[r.cell_id]))
        assert d <= radii[r.cell_id] + 1e-6

    # replay idempotency 1: same checkpoint -> no-op
    gen_before = streamed._gen()
    q = stream_ivf_ingest(
        spark, str(src), str(tmp_path / "ckpt"), s_path, max_files_per_trigger=1
    )
    q.awaitTermination(180)
    assert streamed.read(spark).count() == 500
    assert streamed._gen() == gen_before

    # replay idempotency 2: FRESH checkpoint redelivers batch ids 0..1,
    # but the committed-batch marker (batch_id=1, riding the same
    # sidecar dump that committed the append's gen) suppresses both —
    # the crash-between-append-and-checkpoint-commit guard
    assert streamed.ingest_batch() == 1
    q = stream_ivf_ingest(
        spark, str(src), str(tmp_path / "ckpt2"), s_path, max_files_per_trigger=1
    )
    q.awaitTermination(180)
    assert streamed.read(spark).count() == 500
    assert streamed._gen() == gen_before


def test_stream_tokenizer_ingest_matches_fresh_train(spark, tmp_path):
    """r7: the last store joins the streaming matrix. Counts stream
    exactly-once (batch id rides the config commit); one retrain after
    the drain learns EXACTLY the tokenizer a fresh train over the full
    corpus would (BPE is a pure function of the folded statistics).
    Fresh-checkpoint replay adds nothing."""
    from distributedvectordatabase_spark.operators.bpe import bpe_train
    from distributedvectordatabase_spark.sources.tokenizer_store import (
        TokenizerStore,
    )
    from distributedvectordatabase_spark.streaming.ingest import (
        stream_tokenizer_ingest,
    )

    docs = load_table(spark, "documents", SF_SMALL).limit(300)
    src = tmp_path / "incoming"
    src.mkdir()

    def land(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
        shutil.move(str(part), src / f"{name}.parquet")

    batches = [
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 == 1),
        docs.filter(F.col("doc_id") % 3 == 2),
    ]
    for i, b in enumerate(batches):
        land(b, f"f{i}")

    tok_path = str(tmp_path / "tok")
    q = stream_tokenizer_ingest(
        spark, str(src), str(tmp_path / "ckpt"), tok_path,
        n_merges=8, max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    assert q.exception() is None

    tok = TokenizerStore(tok_path)
    assert tok.ingest_batch() == 2  # marker rode the last commit
    assert tok.registered_docs(spark).count() == docs.count()
    # one retrain after the drain == fresh train over the union
    merges = tok.retrain(spark)
    assert merges == bpe_train(docs, n_merges=8)

    # fresh-checkpoint replay: batch ids 0..2 redeliver, the committed
    # marker suppresses all of them
    gen_before = tok.current_gen()
    q = stream_tokenizer_ingest(
        spark, str(src), str(tmp_path / "ckpt2"), tok_path,
        n_merges=8, max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    assert tok.current_gen() == gen_before
    assert tok.registered_docs(spark).count() == docs.count()
    assert tok.merges(spark) == merges
