"""The workloads. Each is a closed loop with one client: a request is sent
only after the previous one returned. Requests follow a fixed cycle of
kinds until the measuring time is used up, so every run has the same mix
of operations.

Every function reaches the package through module and class attributes at
call time, so the traced run's wrappers see every call.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from perfbench import checks, gen

K = 10


def _list_array(M: np.ndarray, dtype):
    import pyarrow as pa

    M = np.ascontiguousarray(M, dtype=dtype)
    offsets = pa.array(np.arange(0, M.size + 1, M.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(M.reshape(-1)))


def vectors_df(run, name: str, ids: np.ndarray, X: np.ndarray):
    """The rows as a parquet file written without Spark, read back as the
    DataFrame handed to the package (a bulk load from files)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = run.path(f"input_{name}.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(ids.astype(np.int64)),
        "embedding": _list_array(X, np.float32),
    }), path)
    return run.spark.read.parquet(path)


def queries_df(spark, Q: np.ndarray):
    import pyarrow as pa

    return spark.createDataFrame(pa.table({
        "qid": pa.array(np.arange(len(Q), dtype=np.int64)),
        "qvec": _list_array(Q, np.float64),
    }))


def by_query(rows) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(int(r["qid"]), []).append(r)
    return out


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path) for f in files
    )


def data_files(path: str) -> int:
    return sum(
        1
        for root, dirs, files in os.walk(path)
        if not os.path.relpath(root, path).startswith("_")
        for f in files if f.endswith(".parquet")
    )


# -- search ----------------------------------------------------------------

SEARCH_ROWS = 6_000
SEARCH_HELD_OUT = 1_000
BATCH_QUERIES = 32
N_CELLS = 16
N_PROBE = 4
SEARCH_CYCLE = ["batch", "lsh", "batch", "exact", "batch", "ivf", "stats"]


def search(run) -> dict:
    """Read-only serving over a persisted LSH store and an IVF store built
    from the same corpus."""
    from distributedvectordatabase_spark.functions import lsh as lsh_mod
    from distributedvectordatabase_spark.sources import ivf_store, vector_store

    spark = run.spark
    src = gen.VectorSource(run.seed)
    with run.setup_phase("generate"):
        X = src.rows(SEARCH_ROWS)
        held = src.rows(SEARCH_HELD_OUT)
        ids = np.arange(SEARCH_ROWS, dtype=np.int64)
        corpus = vectors_df(run, "corpus", ids, X)
    store = vector_store.VectorStore(
        run.path("lsh_store"), lsh=lsh_mod.SignLSH(dim=gen.DIM, num_tables=3)
    )
    ivf = ivf_store.IVFStore(run.path("ivf_store"), n_cells=N_CELLS)
    with run.setup_phase("vector_store.write"):
        store.write(corpus)
    with run.setup_phase("ivf_store.build"):
        ivf.build(corpus)
    run.end_setup()
    # the write path's layers are per-layer metrics, so it runs only when
    # they are recorded; untraced runs spend its time on timed requests
    extra = ingest(run, src) if run.tracer else {}
    shard_of = store.lsh.bucket_of(X)
    C = ivf.centroids()
    cell_of = np.argmin(
        (X.astype(np.float64) ** 2).sum(1)[:, None] - 2 * X.astype(np.float64) @ C.T
        + (C ** 2).sum(1)[None, :], axis=1,
    )

    def candidates(kind: str, q: np.ndarray) -> np.ndarray:
        """Rows a request may return: all of them, the rows of the probed
        LSH shards, or the rows of the probed IVF cells."""
        if kind == "exact":
            return np.ones(SEARCH_ROWS, dtype=bool)
        if kind == "lsh":
            return np.isin(shard_of, store.lsh.candidate_shards(q, num_candidates=2))
        return np.isin(cell_of, np.argsort(((C - q) ** 2).sum(1))[:N_PROBE])

    def reference(kind: str, q: np.ndarray):
        allowed = candidates(kind, q)
        return checks.brute_topk(X[allowed], ids[allowed], q, K), int(allowed.sum())

    recalls: list = []

    def single(kind: str, q: np.ndarray) -> None:
        qdf = queries_df(spark, q[None, :])
        if kind == "ivf":
            build = lambda: ivf_store.IVFStore.knn(ivf, spark, qdf, k=K, n_probe=N_PROBE)  # noqa: E731
        else:
            build = lambda: vector_store.VectorStore.knn(  # noqa: E731
                store, spark, qdf, k=K, pruned=kind == "lsh", num_candidates=2
            )
        rows = run.request(kind, build, lambda df: df.collect())
        if rows is run.FAILED:
            return
        got_ids, got_d = checks.answer(rows)
        (ref_ids, ref_d), scanned = reference(kind, q)
        run.check(kind, checks.check_topk(got_ids, got_d, ref_ids, ref_d, kind))
        if kind != "exact" and run.timing:
            truth, _ = checks.brute_topk(X, ids, q, K)
            recalls.append(len(set(got_ids) & set(map(int, truth))) / K)
        run.rows_scored(kind, scanned, len(got_ids))

    def batch(Q: np.ndarray) -> None:
        qdf = queries_df(spark, Q)
        rows = run.request(
            "batch",
            lambda: vector_store.VectorStore.knn(store, spark, qdf, k=K, pruned=True,
                                                 num_candidates=2),
            lambda df: df.collect(),
            items=len(Q),
        )
        if rows is run.FAILED:
            return
        got = by_query(rows)
        scored = 0
        for i, q in enumerate(Q):
            got_ids, got_d = checks.answer(got.get(i, []))
            (ref_ids, ref_d), scanned = reference("lsh", q)
            err = checks.check_topk(got_ids, got_d, ref_ids, ref_d, "batch")
            if err:
                run.check("batch", err)
                break
            scored += scanned
        run.rows_scored("batch", scored, len(rows))

    def stats() -> None:
        rows = run.request(
            "stats",
            lambda: vector_store.VectorStore.system_stats(store, spark),
            lambda df: df.collect(),
        )
        if rows is not run.FAILED:
            r = rows[0]
            ok = (r["total_vectors"], r["num_shards"], r["dimension"]) == (
                SEARCH_ROWS, len(set(shard_of.tolist())), gen.DIM)
            run.check("stats", None if ok else f"system_stats returned {r}")

    def do(kind: str) -> None:
        if kind == "batch":
            batch(src.queries(held, BATCH_QUERIES))
        elif kind == "stats":
            stats()
        else:
            single(kind, src.queries(held, 1)[0])

    run.warm_up(SEARCH_CYCLE, do)
    run.loop(SEARCH_CYCLE, do)
    return {"recall_at_10": float(np.mean(recalls)) if recalls else 0.0, **extra}


# -- ingest (the write path, in traced search runs) -------------------------

INGEST_ROWS = 3_000
APPEND_ROWS = 500
DELETE_IDS = 40
INGEST_OPS = ["append", "fresh", "compact", "delete", "fresh_deleted", "stats"]


def ingest(run, src) -> dict:
    """The write path on a store of its own, so the searched stores stay
    clean: an append, a compaction and a delete, with read-after-write
    exact queries, then a reopen from disk."""
    from distributedvectordatabase_spark.functions import lsh as lsh_mod
    from distributedvectordatabase_spark.sources import vector_store

    spark = run.spark
    rng = gen.vector_rng(run.seed, 3)
    X = src.rows(INGEST_ROWS)
    path = run.path("ingest_store")
    store = vector_store.VectorStore(path, lsh=lsh_mod.SignLSH(dim=gen.DIM, num_tables=3))
    store.write(vectors_df(run, "ingest", np.arange(INGEST_ROWS, dtype=np.int64), X))

    # numpy mirror of every acknowledged row; live marks the undeleted ones
    mirror = {"X": X, "live": np.ones(INGEST_ROWS, dtype=bool)}
    deleted: set = set()
    appended: list = []
    state = {"last_deleted": None, "user_bytes": 0}

    def live_ids() -> np.ndarray:
        return np.flatnonzero(mirror["live"])

    def fresh(q: np.ndarray, expect: int | None) -> None:
        qdf = queries_df(spark, q[None, :])
        rows = run.request(
            "fresh",
            lambda: vector_store.VectorStore.knn(store, spark, qdf, k=K, pruned=False),
            lambda df: df.collect(),
        )
        if rows is run.FAILED:
            return
        got_ids, got_d = checks.answer(rows)
        live = live_ids()
        ref_ids, ref_d = checks.brute_topk(mirror["X"][live], live, q, K)
        err = (checks.check_not_deleted(got_ids, deleted)
               or checks.check_topk(got_ids, got_d, ref_ids, ref_d, "fresh search")
               or (checks.check_rank1(got_ids, expect) if expect is not None else None))
        run.check("fresh", err)

    def do(kind: str) -> None:
        n = len(mirror["live"])
        if kind == "append":
            new = src.rows(APPEND_ROWS)
            new_ids = np.arange(n, n + APPEND_ROWS, dtype=np.int64)
            df = vectors_df(run, f"append_{n}", new_ids, new)
            ok = run.request(
                "append", lambda: vector_store.VectorStore.append(store, df), items=APPEND_ROWS
            )
            if ok is not run.FAILED:
                mirror["X"] = np.vstack([mirror["X"], new])
                mirror["live"] = np.concatenate([mirror["live"], np.ones(APPEND_ROWS, bool)])
                appended.extend(new_ids.tolist())
                state["user_bytes"] += APPEND_ROWS * (gen.DIM * 4 + 8)
        elif kind == "delete":
            victims = rng.choice(live_ids(), size=DELETE_IDS, replace=False).tolist()
            ok = run.request(
                "delete", lambda: vector_store.VectorStore.delete(store, spark, victims),
                items=0,
            )
            if ok is not run.FAILED:
                mirror["live"][victims] = False
                deleted.update(int(v) for v in victims)
                state["last_deleted"] = int(victims[0])
        elif kind == "compact":
            run.request("compact", lambda: vector_store.VectorStore.compact(store, spark),
                        items=0)
        elif kind == "stats":
            rows = run.request("ingest_stats",
                               lambda: vector_store.VectorStore.system_stats(store, spark),
                               lambda df: df.collect())
            if rows is not run.FAILED:
                got = rows[0]["total_vectors"]
                want = int(mirror["live"].sum())
                run.check("ingest_stats",
                          None if got == want else f"total_vectors {got} != {want}")
        elif kind == "fresh":
            target = appended[-1] if appended else int(live_ids()[0])
            if not mirror["live"][target]:
                target = int(live_ids()[-1])
            fresh(mirror["X"][target].astype(np.float64), target)
        elif kind == "fresh_deleted":
            gone = state["last_deleted"]
            if gone is not None:
                fresh(mirror["X"][gone].astype(np.float64), None)

    for kind in INGEST_OPS:
        do(kind)

    # durability: a store reopened from disk holds exactly the live rows
    reopened = vector_store.VectorStore(path)
    rows = run.request("reopen", lambda: reopened.read(spark).select("vec_id"),
                       lambda df: df.collect(), timed=False)
    if rows is not run.FAILED:
        run.check("reopen", checks.check_live_set(
            [r["vec_id"] for r in rows], set(live_ids().tolist())))
    live_bytes = int(mirror["live"].sum()) * (gen.DIM * 4 + 8)
    tomb = os.path.join(path, "_tombstones")
    tomb_rows = (spark.read.parquet(tomb).count() if os.path.isdir(tomb) else 0)
    return {
        "space_amp": dir_bytes(path) / live_bytes,
        "vector_store.data_files": float(data_files(path)),
        "tombstones.rows": float(tomb_rows),
        "user_bytes_appended": float(state["user_bytes"]),
    }


# -- curate ----------------------------------------------------------------

CURATE_DOCS = 800


def curate(run) -> dict:
    """``curate_corpus`` end to end over documents with planted duplicates
    and boilerplate."""
    from pyspark.sql import functions as F

    from distributedvectordatabase_spark.operators import curation

    spark = run.spark
    with run.setup_phase("generate"):
        docs = gen.documents(run.seed, CURATE_DOCS)
        df = spark.createDataFrame(docs.rows, "doc_id long, source string, text string")
        target = spark.createDataFrame([(i,) for i in docs.target_ids], "doc_id long")
    run.end_setup()
    input_ids = [r[0] for r in docs.rows]
    select_k = (len(input_ids) - len(docs.planted_removed)) // 2
    calls = {"n": 0}

    def do(_kind: str) -> None:
        work = run.path(f"curate_{calls['n']}")
        calls["n"] += 1
        res = run.request(
            "curate",
            lambda: curation.curate_corpus(
                spark, df, work, target_ids=target, select_k=select_k,
                substring_k=gen.SUBSTRING_K, minhash_bands=16, minhash_rows=6,
            ),
            items=len(input_ids),
        )
        if res is not run.FAILED:
            kept = [r[0] for r in res.deduped.select("doc_id").collect()]
            bodies = {
                r["doc_id"]: r["text"]
                for r in res.trimmed.filter(
                    F.col("doc_id").isin(list(docs.boilerplate_bodies))
                ).select("doc_id", "text").collect()
            }
            exported = res.manifest.agg(F.sum("n_rows")).first()[0]
            err = (checks.check_removed(input_ids, kept, docs.planted_removed)
                   or checks.check_trimmed(bodies, docs.boilerplate_bodies)
                   or (None if exported == select_k
                       else f"exported {exported} rows, expected {select_k}"))
            run.check("curate", err)
        spark.catalog.clearCache()
        shutil.rmtree(work, ignore_errors=True)

    run.loop(["curate"], do)
    return {}


WORKLOADS = {"search": search, "curate": curate}
