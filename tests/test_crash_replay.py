"""Crash-replay atomicity for the append commit protocol (r7, ADVICE
r6 #1): a crash between an append's data jobs and its sidecar commit
must leave the store serving EXACTLY the pre-append state, and the
replayed append must land exactly once — never double-counted postings
/ double-inserted vectors (tombstones.heal_pending two-phase protocol).

The crash state is constructed faithfully, not mocked: run the append
to completion, then rewind the sidecar to its pre-commit form (old
gen/stats + ``pending_gen`` intent). That is byte-for-byte the state a
crash after the data jobs and before the commit dump leaves behind —
the data files exist at the pending gen, the sidecar does not admit
them.
"""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from distributedvectordatabase_spark.sources.tables import load_table
from tests.conftest import SF_SMALL


def _bm25(ix, spark, terms):
    return [
        (r.doc_id, r.score, r.rnk)
        for r in ix.bm25(spark, terms, k=10).collect()
    ]


def test_text_index_append_crash_is_invisible_then_replays_once(spark, tmp_path):
    from distributedvectordatabase_spark.sources.text_index import TextIndex

    docs = load_table(spark, "documents", SF_SMALL)
    d1 = docs.filter(F.col("doc_id") % 2 == 0)
    d2 = docs.filter(F.col("doc_id") % 2 == 1)
    terms = ["dup", "vector", "query"]

    ix = TextIndex(str(tmp_path / "ix"), n_buckets=8)
    ix.build(d1)
    st_before = ix.stats()
    ix.append(d2, ingest_batch=1)
    committed = ix.stats()
    assert committed["ingest_batch"] == 1  # marker rode the commit dump

    # ---- rewind to the crash state: data at gen 2 present, sidecar
    # pre-commit with the pending intent
    st_before["pending_gen"] = committed["gen"]
    with open(os.path.join(str(tmp_path / "ix"), "_stats.json"), "w") as f:
        json.dump(st_before, f)

    # orphan rows are invisible: scores equal a fresh build over d1
    # alone, the marker reads uncommitted, and stats never saw d2
    fresh1 = TextIndex(str(tmp_path / "f1"), n_buckets=8)
    fresh1.build(d1)
    assert _bm25(ix, spark, terms) == _bm25(fresh1, spark, terms)
    assert ix.ingest_batch() == -1
    assert ix.stats()["n_docs"] == d1.count()

    # ---- replay: heals the intent into aborted_gens, lands once
    ix.append(d2, ingest_batch=1)
    st = ix.stats()
    assert st["aborted_gens"] == [2] and st["pending_gen"] is None
    assert st["gen"] == 3 and st["ingest_batch"] == 1
    assert st["n_docs"] == docs.count()

    fresh = TextIndex(str(tmp_path / "f2"), n_buckets=8)
    fresh.build(docs)
    assert _bm25(ix, spark, terms) == _bm25(fresh, spark, terms)

    # compact reclaims the orphan bytes and clears the aborted list;
    # scores unchanged
    live_postings = ix._committed(ix.postings(spark)).count()
    ix.compact(spark)
    st = ix.stats()
    assert st["aborted_gens"] == [] and st["pending_gen"] is None
    assert ix.postings(spark).count() == live_postings
    assert _bm25(ix, spark, terms) == _bm25(fresh, spark, terms)


def test_ivf_append_crash_is_invisible_then_replays_once(spark, tmp_path):
    from distributedvectordatabase_spark.sources.ivf_store import IVFStore

    emb = load_table(spark, "embeddings", SF_SMALL)
    seed = emb.filter(F.col("vec_id") < 300)
    batch = emb.filter(F.col("vec_id") >= 300)

    s_path = str(tmp_path / "ivf")
    store = IVFStore(s_path, n_cells=8)
    store.build(seed)
    with open(os.path.join(s_path, "_centroids.json")) as f:
        side_before = json.load(f)
    store.append(batch, ingest_batch=0)
    with open(os.path.join(s_path, "_centroids.json")) as f:
        side_committed = json.load(f)
    assert side_committed["ingest_batch"] == 0

    # ---- rewind to the crash state. Radii stay at their widened
    # values — append widens them BEFORE the data lands, so the crash
    # state carries the (merely conservative) wide radii.
    side_before["radii"] = side_committed.get("radii", side_before.get("radii"))
    side_before["pending_gen"] = side_committed["gen"]
    with open(os.path.join(s_path, "_centroids.json"), "w") as f:
        json.dump(side_before, f)

    # orphan rows invisible to reads AND searches
    assert store.read(spark).count() == seed.count()
    assert store.ingest_batch() == -1
    q = spark.createDataFrame(
        [(0, [float(x) for x in emb.filter(F.col("vec_id") == 350)
              .first().embedding])],
        "qid long, qvec array<double>",
    )
    hits = {r.neighbor_id for r in store.knn(spark, q, k=5,
                                             n_probe=8).collect()}
    assert not any(h >= 300 for h in hits)

    # ---- replay lands exactly once, equal to a clean sequential fold
    store.append(batch, ingest_batch=0)
    with open(os.path.join(s_path, "_centroids.json")) as f:
        side = json.load(f)
    assert side["aborted_gens"] == [2] and side["pending_gen"] is None
    assert side["gen"] == 3 and side["ingest_batch"] == 0

    oracle = IVFStore(str(tmp_path / "oracle"), n_cells=8)
    oracle.build(seed)
    oracle.append(batch)
    got = {(r.vec_id, r.cell_id)
           for r in store.read(spark).select("vec_id", "cell_id").collect()}
    want = {(r.vec_id, r.cell_id)
            for r in oracle.read(spark).select("vec_id", "cell_id").collect()}
    assert got == want

    # compact drops the orphan bytes physically and clears the list
    live = store.read(spark).count()
    store.compact(spark)
    with open(os.path.join(s_path, "_centroids.json")) as f:
        side = json.load(f)
    assert side["aborted_gens"] == [] and side["pending_gen"] is None
    assert spark.read.parquet(s_path).count() == live == emb.count()


def test_delete_heals_a_crashed_append_first(spark, tmp_path):
    """A delete issued over a crashed-append store must abort the
    orphans BEFORE bumping the committed horizon past them — otherwise
    the orphan rows would surface as committed."""
    from distributedvectordatabase_spark.sources.text_index import TextIndex

    docs = load_table(spark, "documents", SF_SMALL)
    d1 = docs.filter(F.col("doc_id") % 2 == 0)
    d2 = docs.filter(F.col("doc_id") % 2 == 1)
    terms = ["dup", "vector", "query"]

    ix = TextIndex(str(tmp_path / "ix"), n_buckets=8)
    ix.build(d1)
    st_before = ix.stats()
    ix.append(d2)
    committed_gen = ix.stats()["gen"]
    st_before["pending_gen"] = committed_gen
    with open(os.path.join(str(tmp_path / "ix"), "_stats.json"), "w") as f:
        json.dump(st_before, f)

    victim = int(d1.first().doc_id)
    ix.delete(spark, [victim])
    st = ix.stats()
    # the delete healed the orphan gen and took the NEXT number
    assert st["aborted_gens"] == [committed_gen]
    assert st["gen"] == committed_gen + 1

    fresh = TextIndex(str(tmp_path / "f"), n_buckets=8)
    fresh.build(d1.filter(F.col("doc_id") != victim))
    assert _bm25(ix, spark, terms) == _bm25(fresh, spark, terms)


def test_vector_store_append_crash_is_invisible_then_replays_once(spark, tmp_path):
    from distributedvectordatabase_spark.functions.lsh import SignLSH
    from distributedvectordatabase_spark.sources.vector_store import VectorStore

    emb = load_table(spark, "embeddings", SF_SMALL).select("vec_id", "embedding")
    seed = emb.filter(F.col("vec_id") < 300)
    batch = emb.filter(F.col("vec_id") >= 300)

    s_path = str(tmp_path / "vs")
    store = VectorStore(s_path, SignLSH(dim=64, seed=11))
    store.write(seed)
    with open(os.path.join(s_path, "_lsh.json")) as f:
        cfg_before = json.load(f)
    store.append(batch)
    committed_gen = store.current_gen()

    # rewind to the crash state: data at the pending gen present,
    # sidecar pre-commit with the intent
    cfg_before["pending_gen"] = committed_gen
    with open(os.path.join(s_path, "_lsh.json"), "w") as f:
        json.dump(cfg_before, f)

    assert store.read(spark).count() == seed.count()
    q = spark.createDataFrame(
        [(0, [float(x) for x in emb.filter("vec_id = 350").first().embedding])],
        "qid long, qvec array<double>",
    )
    hits = {r.neighbor_id for r in store.knn(spark, q, k=5, pruned=False).collect()}
    assert not any(h >= 300 for h in hits)

    # replay: heals + lands once
    store.append(batch)
    cfg = store._lsh_config()
    assert cfg["aborted_gens"] == [committed_gen]
    assert cfg["pending_gen"] is None and cfg["gen"] == committed_gen + 1
    assert store.read(spark).count() == emb.count()
    hits = {r.neighbor_id for r in store.knn(spark, q, k=5, pruned=False).collect()}
    assert 350 in hits

    live = store.read(spark).count()
    store.compact(spark)
    cfg = store._lsh_config()
    assert cfg["aborted_gens"] == [] and cfg["pending_gen"] is None
    assert spark.read.parquet(s_path).count() == live


def test_sig_store_append_crash_is_invisible_then_replays_once(spark, tmp_path):
    from distributedvectordatabase_spark.sources.sig_store import SigStore

    docs = load_table(spark, "documents", SF_SMALL)
    c1 = docs.filter(F.col("doc_id") % 5 == 1)
    c2 = docs.filter(F.col("doc_id") % 5 == 2)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    s_path = str(tmp_path / "sig")
    sig = SigStore(s_path, bands=4, rows=3, shingle_n=3)
    sig.build(c1)
    with open(os.path.join(s_path, "_config.json")) as f:
        cfg_before = json.load(f)
    sig.append(c2, ingest_batch=1)
    with open(os.path.join(s_path, "_config.json")) as f:
        committed = json.load(f)
    assert committed["ingest_batch"] == 1

    cfg_before["pending_gen"] = committed["gen"]
    with open(os.path.join(s_path, "_config.json"), "w") as f:
        json.dump(cfg_before, f)

    def hits(store):
        return sorted(
            (r.new_id, r.corpus_id, r.jaccard)
            for r in store.join_batch(batch, threshold=0.5).collect()
        )

    f1 = SigStore(str(tmp_path / "f1"), bands=4, rows=3, shingle_n=3)
    f1.build(c1)
    assert hits(sig) == hits(f1)  # orphans generate no candidates
    assert sig.ingest_batch() == -1

    sig.append(c2, ingest_batch=1)
    cfg = sig._config()
    assert cfg["aborted_gens"] == [committed["gen"]]
    assert cfg["gen"] == committed["gen"] + 1 and cfg["ingest_batch"] == 1
    f2 = SigStore(str(tmp_path / "f2"), bands=4, rows=3, shingle_n=3)
    f2.build(c1.union(c2))
    assert hits(sig) == hits(f2)

    sig.compact(spark)
    cfg = sig._config()
    assert cfg["aborted_gens"] == [] and cfg["pending_gen"] is None
    assert cfg["ingest_batch"] == 1  # marker survives compaction (r7)
    assert hits(sig) == hits(f2)


def test_tokenizer_store_append_crash_is_invisible_then_replays_once(spark, tmp_path):
    """The fifth store: a crashed word-counts append must not leak into
    the vocabulary (a retrain would otherwise learn from orphan
    counts), and the replay must fold the statistics exactly once."""
    from distributedvectordatabase_spark.operators.bpe import bpe_train
    from distributedvectordatabase_spark.sources.tokenizer_store import (
        TokenizerStore,
    )

    docs = load_table(spark, "documents", SF_SMALL).limit(160)
    d1 = docs.filter(F.col("doc_id") % 2 == 0)
    d2 = docs.filter(F.col("doc_id") % 2 == 1)

    s_path = str(tmp_path / "tok")
    tok = TokenizerStore(s_path, n_merges=8)
    tok.train(d1)
    with open(os.path.join(s_path, "_config.json")) as f:
        cfg_before = json.load(f)
    tok.append(d2)
    with open(os.path.join(s_path, "_config.json")) as f:
        committed = json.load(f)

    cfg_before["pending_gen"] = committed["gen"]
    with open(os.path.join(s_path, "_config.json"), "w") as f:
        json.dump(cfg_before, f)

    # orphan counts invisible: a retrain over the crashed store learns
    # exactly the d1-only tokenizer
    assert tok.retrain(spark) == bpe_train(d1, n_merges=8)
    assert tok.registered_docs(spark).count() == d1.count()

    # replay folds once: equal to a fresh train over the union
    merges = tok.append(d2)
    cfg = tok._config()
    assert cfg["aborted_gens"] == [committed["gen"]]
    assert cfg["gen"] == committed["gen"] + 1 and cfg["pending_gen"] is None
    assert merges == bpe_train(docs, n_merges=8)
    assert tok.registered_docs(spark).count() == docs.count()

    tok.compact(spark)
    cfg = tok._config()
    assert cfg["aborted_gens"] == [] and cfg["pending_gen"] is None
    assert tok.merges(spark) == merges


# ---------------------------------------------------------------------------
# Writer lease (r8, VERDICT r7 #2): the two-phase commit protocol is
# crash-safe but single-writer — two concurrent appenders would race the
# sidecar read-modify-write (both heal, both allocate G+1, the losing
# dump silently orphans the winner's committed rows). The lease turns
# that silent corruption into an explicit WriterLeaseHeld refusal, on
# every mutator of all five stores.
# ---------------------------------------------------------------------------


def _hold_lock(path: str, pid: int, ts: float) -> None:
    with open(path.rstrip("/") + "__writer.lock", "w") as f:
        json.dump({"pid": pid, "ts": ts, "host": os.uname().nodename}, f)


def test_writer_lease_refuses_live_writer_on_all_five_stores(spark, tmp_path):
    from distributedvectordatabase_spark.functions.lsh import SignLSH
    from distributedvectordatabase_spark.sources.ivf_store import IVFStore
    from distributedvectordatabase_spark.sources.sig_store import SigStore
    from distributedvectordatabase_spark.sources.text_index import TextIndex
    from distributedvectordatabase_spark.sources.tokenizer_store import (
        TokenizerStore,
    )
    from distributedvectordatabase_spark.sources.tombstones import (
        WriterLeaseHeld,
    )
    from distributedvectordatabase_spark.sources.vector_store import VectorStore

    docs = load_table(spark, "documents", SF_SMALL).limit(60)
    emb = load_table(spark, "embeddings", SF_SMALL).limit(200)
    d2 = load_table(spark, "documents", SF_SMALL).filter(
        "doc_id >= 60 and doc_id < 80"
    )
    e2 = load_table(spark, "embeddings", SF_SMALL).filter(
        "vec_id >= 200 and vec_id < 240"
    )

    vs = VectorStore(str(tmp_path / "vs"), SignLSH(dim=64, seed=3))
    vs.write(emb.select("vec_id", "embedding"))
    ivf = IVFStore(str(tmp_path / "ivf"), n_cells=4)
    ivf.build(emb)
    ix = TextIndex(str(tmp_path / "ix"), n_buckets=4)
    ix.build(docs)
    sig = SigStore(str(tmp_path / "sig"), bands=4, rows=3, shingle_n=3)
    sig.build(docs)
    tok = TokenizerStore(str(tmp_path / "tok"), n_merges=4)
    tok.train(docs)

    cases = [
        (vs, lambda: vs.append(e2.select("vec_id", "embedding"))),
        (ivf, lambda: ivf.append(e2)),
        (ix, lambda: ix.append(d2)),
        (sig, lambda: sig.append(d2)),
        (tok, lambda: tok.append(d2)),
    ]
    for store, mutate in cases:
        lock = store.path.rstrip("/") + "__writer.lock"
        # every build/train released its lease on the way out
        assert not os.path.exists(lock), store.path
        # a LIVE foreign writer (pid 1 always exists) → refusal, store
        # untouched
        _hold_lock(store.path, pid=1, ts=time.time())
        gen_before = store.current_gen()
        with pytest.raises(WriterLeaseHeld):
            mutate()
        assert store.current_gen() == gen_before
        # a provably-dead holder (stale wall clock + dead pid) → the
        # lease is taken over and the mutation proceeds
        _hold_lock(store.path, pid=2_999_999, ts=0.0)
        mutate()
        assert store.current_gen() == gen_before + 1
        assert not os.path.exists(lock)


def test_writer_lease_refuses_live_writer_on_delete_and_compact(spark, tmp_path):
    """delete and compact are gen-allocating mutators too: under a live
    foreign writer both refuse before touching the store, on every
    store kind."""
    from distributedvectordatabase_spark.sources.ivf_store import IVFStore
    from distributedvectordatabase_spark.sources.sig_store import SigStore
    from distributedvectordatabase_spark.sources.text_index import TextIndex
    from distributedvectordatabase_spark.sources.tokenizer_store import (
        TokenizerStore,
    )
    from distributedvectordatabase_spark.sources.tombstones import (
        WriterLeaseHeld,
    )
    from distributedvectordatabase_spark.sources.vector_store import VectorStore

    for cls, sidecar in [
        (VectorStore, "_lsh.json"),
        (IVFStore, "_centroids.json"),
        (TextIndex, "_stats.json"),
        (SigStore, "_config.json"),
        (TokenizerStore, "_config.json"),
    ]:
        path = str(tmp_path / cls.__name__)
        store = cls(path)
        os.makedirs(path)
        with open(os.path.join(path, sidecar), "w") as f:
            json.dump({"gen": 3, "pending_gen": 4}, f)
        _hold_lock(path, pid=1, ts=time.time())
        for mutate in (lambda: store.delete(spark, [1]),
                       lambda: store.compact(spark)):
            with pytest.raises(WriterLeaseHeld):
                mutate()
            with open(os.path.join(path, sidecar)) as f:
                assert json.load(f) == {"gen": 3, "pending_gen": 4}, cls
            assert sorted(os.listdir(path)) == [sidecar], cls
            assert not os.path.exists(path + "__compacting"), cls


def test_writer_lease_is_reentrant_within_one_process(tmp_path):
    from distributedvectordatabase_spark.sources.tombstones import writer_lease

    p = str(tmp_path / "store")
    lock = p + "__writer.lock"
    with writer_lease(p):
        assert os.path.exists(lock)
        with writer_lease(p):  # inner scope: same pid, no-op
            assert os.path.exists(lock)
        # the INNER exit must not release the outer holder's lease
        assert os.path.exists(lock)
    assert not os.path.exists(lock)


def test_writer_lease_exclusion_for_foreign_pid(tmp_path):
    from distributedvectordatabase_spark.sources.tombstones import (
        WriterLeaseHeld,
        writer_lease,
    )

    p = str(tmp_path / "store")
    _hold_lock(p, pid=1, ts=time.time())  # live foreign writer
    with pytest.raises(WriterLeaseHeld):
        with writer_lease(p):
            pass
    os.unlink(p + "__writer.lock")
    with writer_lease(p):  # released → acquirable
        pass


# ---------------------------------------------------------------------------
# Lease races + liveness (r9, VERDICT r8 #3 / ADVICE r8 #1-#2): stale
# takeover must have exactly ONE winner (rename-aside), acquisition must
# never expose an empty lock, a live long-running holder must heartbeat
# past the wall-clock horizon, a usurped holder must abort at its next
# commit point instead of committing over the usurper, and release must
# never unlink a successor's lock.
# ---------------------------------------------------------------------------


def test_lock_created_with_complete_payload(tmp_path):
    from distributedvectordatabase_spark.sources.tombstones import writer_lease

    p = str(tmp_path / "store")
    with writer_lease(p):
        with open(p + "__writer.lock") as f:
            cur = json.load(f)  # parseable == never empty at any point
        assert cur["pid"] == os.getpid()
        assert cur["host"] == os.uname().nodename
        assert cur["token"] and cur["ts"] > 0


def test_takeover_single_winner_rename_aside(tmp_path, monkeypatch):
    import distributedvectordatabase_spark.sources.tombstones as T

    p = str(tmp_path / "store")
    _hold_lock(p, pid=2_999_999, ts=0.0)  # provably stale
    with open(p + "__writer.lock") as f:
        observed = json.load(f)

    a, b = T.writer_lease(p), T.writer_lease(p)
    a._token, b._token = "a" * 32, "b" * 32
    # both contenders proved the SAME lock stale; the rename-aside can
    # only succeed once, and the loser's post-rename re-read backs off
    assert a._takeover_stale(dict(observed)) is True
    assert b._takeover_stale(dict(observed)) is False
    with open(p + "__writer.lock") as f:
        assert json.load(f)["token"] == a._token
    # the loser's FULL acquisition path (as a foreign process — empty
    # registry) refuses: the winner's lock is fresh and live
    monkeypatch.setattr(T, "_HELD_LEASES", {})
    with pytest.raises(T.WriterLeaseHeld):
        with T.writer_lease(p):
            pass


def test_takeover_aba_guard_restores_live_lock(tmp_path):
    import distributedvectordatabase_spark.sources.tombstones as T

    p = str(tmp_path / "store")
    lock = p + "__writer.lock"
    os.makedirs(str(tmp_path), exist_ok=True)
    stale_observed = {"pid": 2_999_999, "ts": 0.0, "host": os.uname().nodename}
    # what actually sits at the lock path is a FRESH live lock (a faster
    # contender completed its takeover in the gap)
    fresh = {
        "pid": 1,
        "ts": time.time(),
        "host": os.uname().nodename,
        "token": "w" * 32,
    }
    with open(lock, "w") as f:
        json.dump(fresh, f)
    b = T.writer_lease(p)
    b._token = "b" * 32
    assert b._takeover_stale(dict(stale_observed)) is False
    with open(lock) as f:
        assert json.load(f) == fresh  # restored intact, not stolen


def test_lease_heartbeat_survives_stale_horizon(tmp_path, monkeypatch):
    import distributedvectordatabase_spark.sources.tombstones as T

    p = str(tmp_path / "store")
    lock = p + "__writer.lock"
    with T.writer_lease(p, stale_after_s=0.4) as lease:  # heartbeat every 0.1
        time.sleep(1.0)  # >2x the horizon
        with open(lock) as f:
            cur = json.load(f)
        assert time.time() - cur["ts"] < 0.4  # ts was refreshed
        # a foreign contender (fresh registry) must REFUSE — the holder
        # is long-running but provably live via its heartbeat. The pid
        # probe would also save us here (same host), so check staleness
        # directly too.
        assert not lease._is_stale(cur)
        saved = dict(T._HELD_LEASES)
        monkeypatch.setattr(T, "_HELD_LEASES", {})
        foreign = T.writer_lease(p, stale_after_s=0.4)
        # neutralize the same-host pid probe: force the wall-clock path
        monkeypatch.setattr(foreign, "_pid_alive", lambda pid: True)
        with pytest.raises(T.WriterLeaseHeld):
            with foreign:
                pass
        monkeypatch.setattr(T, "_HELD_LEASES", saved)
    assert not os.path.exists(lock)


def test_lease_without_heartbeat_is_usurped_and_holder_aborts(
    tmp_path, monkeypatch
):
    import distributedvectordatabase_spark.sources.tombstones as T

    p = str(tmp_path / "store")
    os.makedirs(p, exist_ok=True)
    lock = p + "__writer.lock"
    holder = T.writer_lease(p, stale_after_s=0.2, heartbeat_every_s=3600)
    with holder:
        time.sleep(0.5)  # cross the horizon with no heartbeat
        saved = dict(T._HELD_LEASES)
        monkeypatch.setattr(T, "_HELD_LEASES", {})
        usurper = T.writer_lease(p, stale_after_s=0.2)
        monkeypatch.setattr(usurper, "_pid_alive", lambda pid: True)
        with usurper:  # wall-clock takeover succeeds
            monkeypatch.setattr(T, "_HELD_LEASES", saved)
            # the ORIGINAL holder's next commit-point sidecar dump inside
            # the store must abort, not commit over the usurper
            with pytest.raises(T.WriterLeaseLost):
                T.atomic_dump_json(os.path.join(p, "_config.json"), {"x": 1})
            assert holder.lost
            monkeypatch.setattr(T, "_HELD_LEASES", {})
        monkeypatch.setattr(T, "_HELD_LEASES", saved)
    # the ex-holder's release must NOT have unlinked anything of the
    # usurper's (usurper already released its own lock cleanly)
    assert not os.path.exists(lock)


def test_commit_dump_heartbeats_own_lease(tmp_path):
    import distributedvectordatabase_spark.sources.tombstones as T

    p = str(tmp_path / "store")
    os.makedirs(p, exist_ok=True)
    lock = p + "__writer.lock"
    with T.writer_lease(p):
        with open(lock) as f:
            ts1 = json.load(f)["ts"]
        time.sleep(0.05)
        T.atomic_dump_json(os.path.join(p, "_config.json"), {"gen": 1})
        with open(lock) as f:
            ts2 = json.load(f)["ts"]
        assert ts2 > ts1  # every in-store commit dump refreshes the lease
