#!/usr/bin/env python
"""Scale probe (opt-in; not part of the driver BENCH contract).

The driver testdata's embeddings table is small (2k rows at sf0.1), so
``bench.py``'s vector numbers are overhead-dominated. This probe
generates an N-row 64-D corpus *distributed* (one pandas_udf batch per
partition — the driver never holds the data), builds the bucketed
store, and measures the paths whose scaling actually matters:

- bucketed ingest (LSH assign + partitioned write) rows/s
- exact batch kNN via the Arrow/BLAS partial top-k (scan-bound path)
- LSH-pruned kNN (partition pruning + per-query equi-join)

With a third argument the probe also generates N_DOCS synthetic text
documents (5k-word vocabulary, ~80 words/doc, every 10th doc a planted
near-dup of its predecessor) and measures the north-star text paths at
corpus sizes the driver testdata can't reach: benchmark decontamination
(broadcast n-gram overlap) and shingle-MinHash near-dup banding.

Usage: python bench_scale.py [N_ROWS] [DIM] [N_DOCS]  (default 500_000 64 0;
DIM=512 matches the reference design point, generate_coco_embeddings.py
512-D PCA). Prints one JSON line like bench.py.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from distributedvectordatabase_spark.operators.knn import knn, recall_at_k
from distributedvectordatabase_spark.session import get_spark
from distributedvectordatabase_spark.sources.vector_store import VectorStore

DIM = 64  # overridden by argv[2]


def synth_corpus(
    spark,
    n_rows: int,
    partitions: int,
    dim: int = DIM,
    clusters: int = 0,
    rank: int = 0,
):
    """Deterministic synthetic corpus, generated inside executors.

    Three geometries (see the BASELINE.md 512-D decomposition):
    - default: iid gaussian — the ANN WORST case (distance
      concentration leaves less neighbor contrast than quantization
      error, so PQ/ADC cannot rank even though IVF routing is
      lossless);
    - ``clusters=K``: seeded mixture centers + 0.25·noise — fixes
      routing but within-cluster geometry is still full-rank noise;
    - ``rank=r``: rows live on a seeded r-dim subspace (+1% noise) —
      the REALISTIC embedding geometry (low intrinsic dimension);
      measured: IVFPQ recall@10 = 0.92 at probe 8/16 + rerank 8 on
      rank=32/dim=512 where iid gaussian gives 0.28.
    """

    def gen(batches):
        centers = (
            np.random.RandomState(7).standard_normal((clusters, dim)).astype(np.float32)
            if clusters
            else None
        )
        P = (
            np.random.RandomState(11).standard_normal((rank, dim)).astype(np.float32)
            / np.sqrt(rank)
            if rank
            else None
        )
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.RandomState(int(ids[0]) % (2**31))
            if P is not None:
                Z = rng.standard_normal((len(ids), rank)).astype(np.float32)
                X = Z @ P + 0.01 * rng.standard_normal((len(ids), dim)).astype(np.float32)
            else:
                X = rng.standard_normal((len(ids), dim)).astype(np.float32)
            if centers is not None:
                X = centers[ids % clusters] + 0.25 * X
            yield pd.DataFrame({"vec_id": ids, "embedding": list(X)})

    return (
        spark.range(n_rows, numPartitions=partitions)
        .mapInPandas(gen, schema="vec_id long, embedding array<float>")
    )


def synth_docs(spark, n_docs: int, partitions: int, vocab: int = 5000):
    """Deterministic synthetic documents, generated inside executors.
    Every 10th doc shares ~94% of its words with its predecessor
    (planted near-dups so banding has something real to find)."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            texts = []
            for i in ids:
                rloc = np.random.RandomState(int(i) % (2**31))
                words = rloc.randint(0, vocab, size=80)
                if i % 10 == 9:
                    prev = np.random.RandomState(int(i - 1) % (2**31)).randint(
                        0, vocab, size=80
                    )
                    prev[::17] = words[::17]  # ~5/80 words differ
                    words = prev
                texts.append(" ".join(f"w{w}" for w in words))
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    return spark.range(n_docs, numPartitions=partitions).mapInPandas(
        gen, schema="doc_id long, text string"
    )


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else DIM
    n_docs = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    rank = int(sys.argv[4]) if len(sys.argv) > 4 else 0
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="dvdb-bench-scale", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="dvdb_scale_")
    from distributedvectordatabase_spark.functions.lsh import SignLSH

    store = VectorStore(os.path.join(tmp, "store"), SignLSH(dim=dim))
    corpus = synth_corpus(spark, n_rows, partitions=int(cpus), dim=dim, rank=rank)

    # absorb Python-worker launch so the ingest number measures
    # generate+assign+shuffle+write, not process startup
    spark.range(int(cpus)).mapInPandas(lambda it: it, schema="id long").count()

    timings: dict[str, float] = {}
    t0 = time.perf_counter()
    store.write(corpus, validate_dim=False)
    timings["ingest_bucketed_write"] = round(time.perf_counter() - t0, 3)

    loaded = store.read(spark)
    queries = (
        loaded.orderBy("vec_id")
        .limit(20)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        .cache()
    )
    queries.count()

    def timed_min(fn, reps: int = 2) -> float:
        """Min of ``reps`` runs — the VM's CPU-steal noise is multiplicative,
        so the minimum is the honest steady-state estimate."""
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    exact = knn(loaded, queries, k=10, impl="arrow")
    timings["knn_exact_arrow_20q"] = timed_min(lambda: exact.count())

    big_queries = (
        loaded.orderBy("vec_id")
        .limit(200)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        .cache()
    )
    big_queries.count()
    exact_big = knn(loaded, big_queries, k=10, impl="arrow")
    timings["knn_exact_arrow_200q"] = timed_min(lambda: exact_big.count())

    approx = store.knn(spark, queries, k=10, pruned=True, num_candidates=2)
    timings["knn_pruned_2of3_20q"] = timed_min(lambda: approx.count())

    recall = round(recall_at_k(exact, approx, 10), 4)

    # IVFPQ: cell-partitioned compressed index — the path whose scan
    # cost is bytes-of-codes, not bytes-of-floats
    from distributedvectordatabase_spark.sources.ivf_store import IVFStore

    ivf = IVFStore(os.path.join(tmp, "ivfpq"), n_cells=16)
    t0 = time.perf_counter()
    ivf.build(loaded)
    timings["ivf_build"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    ivf.build_pq(spark, m=16, nbits=6)
    timings["ivfpq_encode"] = round(time.perf_counter() - t0, 3)
    ivfpq = ivf.knn_pq(spark, queries, k=10, n_probe=4, rerank=4)
    timings["ivfpq_probe4_rerank4_20q"] = timed_min(lambda: ivfpq.count())
    recall_ivfpq = round(recall_at_k(exact, ivfpq, 10), 4)

    # Metadata-filtered IVF (r6): 1% selectivity starves a 4-probe
    # shortlist, so this measures the radius-bound escalation — scan
    # stays cell-pruned AND predicate-pushed, and the triangle bound
    # certifies the result EXACT against filtered brute force
    ivf_meta = IVFStore(os.path.join(tmp, "ivf_meta"), n_cells=16, meta_cols=("tag",))
    tagged = loaded.withColumn("tag", (F.col("vec_id") % 100).cast("int"))
    t0 = time.perf_counter()
    ivf_meta.build(tagged)
    timings["ivf_meta_build"] = round(time.perf_counter() - t0, 3)
    # escalation materializes inside the call (driver-bounded result
    # merge), so the timed unit is the full call, not a lazy count
    filt = ivf_meta.knn(spark, queries, k=10, n_probe=4, where="tag = 7")
    timings["ivf_filtered_1pct_probe4_20q"] = timed_min(
        lambda: ivf_meta.knn(spark, queries, k=10, n_probe=4, where="tag = 7").count()
    )
    exact_filt = knn(tagged.filter("tag = 7"), queries, k=10, impl="arrow")
    timings["knn_exact_filtered_1pct_20q"] = timed_min(lambda: exact_filt.count())
    recall_filtered = round(recall_at_k(exact_filt, filt, 10), 4)

    # IVF-SQ8 on the same cells: routing keeps the partition pruning,
    # the scan reads 1 byte/dim — isolates routing loss from code loss
    t0 = time.perf_counter()
    ivf.build_sq(spark)
    timings["ivfsq_encode"] = round(time.perf_counter() - t0, 3)
    ivfsq = ivf.knn_sq(spark, queries, k=10, n_probe=4, rerank=2)
    timings["ivfsq_probe4_rerank2_20q"] = timed_min(lambda: ivfsq.count())
    recall_ivfsq = round(recall_at_k(exact, ivfsq, 10), 4)

    # SemDeDup: plant 1% duplicate copies, then cluster-bucketed
    # semantic dedup (64 cells) — the sub-quadratic curation pass;
    # every planted copy shares its original's cell and cosine 1.0,
    # so removed == planted checks recall at scale. Probed at the
    # standard 64-D configuration only: the KMeans fit + within-cell
    # pairwise dominate the whole probe at 512-D, and the measurement
    # (planted-copy recall + pass cost) is dim-insensitive.
    n_planted = semdedup_removed = None
    if dim <= 128:
        from distributedvectordatabase_spark.operators.semdedup import (
            fit_centroids,
            semantic_dedup,
        )

        dups = (
            loaded.filter(F.col("vec_id") % 100 == 0)
            .select((F.col("vec_id") + F.lit(n_rows)).alias("vec_id"), "embedding")
        )
        seeded_corpus = loaded.select("vec_id", "embedding").union(dups)
        n_planted = dups.count()
        t0 = time.perf_counter()
        C64 = fit_centroids(seeded_corpus, 64)
        timings["semdedup_kmeans_64"] = round(time.perf_counter() - t0, 3)
        sd = semantic_dedup(seeded_corpus, C64, threshold=0.999)
        timings["semdedup_dedup_pass"] = timed_min(lambda: sd.count())
        semdedup_removed = int(seeded_corpus.count() - sd.count())

    # SQ8 sidecar on the same LSH store: 1 byte/dim scan + exact rerank
    t0 = time.perf_counter()
    store.build_sq(spark)
    timings["sq8_build"] = round(time.perf_counter() - t0, 3)
    sq_full = store.knn_sq(spark, queries, k=10, pruned=False, rerank=2)
    timings["sq8_full_rerank2_20q"] = timed_min(lambda: sq_full.count())
    recall_sq = round(recall_at_k(exact, sq_full, 10), 4)
    sq_pruned = store.knn_sq(spark, queries, k=10, pruned=True,
                             num_candidates=2, rerank=2)
    timings["sq8_pruned_2of3_rerank2_20q"] = timed_min(lambda: sq_pruned.count())

    # Binary quantization: 1 bit/dim Hamming shortlist + exact rerank —
    # the cheapest first-pass scan on the ladder (64x fewer scan bytes
    # than float64); recall here is the honest iid-gaussian worst case
    # (sign-Hamming is an angular proxy scoring an L2 ground truth)
    from distributedvectordatabase_spark.operators.bq import bq_knn

    bq2 = bq_knn(loaded, queries, dim=dim, k=10, rerank=2)
    timings["bq_hamming_rerank2_20q"] = timed_min(lambda: bq2.count())
    recall_bq2 = round(recall_at_k(exact, bq2, 10), 4)
    bq8 = bq_knn(loaded, queries, dim=dim, k=10, rerank=8)
    timings["bq_hamming_rerank8_20q"] = timed_min(lambda: bq8.count())
    recall_bq8 = round(recall_at_k(exact, bq8, 10), 4)
    # super-bit codes: 256 seeded sign projections instead of raw
    # signs — identity Hamming has only dim+1 levels, so at corpus
    # scale the shortlist drowns in ties; B=256 is the scale path
    bq256 = bq_knn(loaded, queries, dim=dim, k=10, rerank=8, n_bits=256)
    timings["bq256_hamming_rerank8_20q"] = timed_min(lambda: bq256.count())
    recall_bq256 = round(recall_at_k(exact, bq256, 10), 4)

    # Normalized-domain BQ (r6): the corpus where 1-bit codes EARN the
    # 64x — L2-normalized vectors queried in the cosine metric, so the
    # angular Hamming shortlist and the rerank agree on "near". Ground
    # truth is exact cosine kNN over the normalized corpus.
    from distributedvectordatabase_spark.functions.vector import l2_normalize

    norm_corpus = loaded.select(
        "vec_id", l2_normalize("embedding").alias("embedding")
    ).cache()
    norm_corpus.count()
    norm_queries = (
        norm_corpus.orderBy("vec_id")
        .limit(20)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        .cache()
    )
    norm_queries.count()
    exact_cos = knn(norm_corpus, norm_queries, k=10, metric="cosine", impl="arrow")
    bq256n = bq_knn(norm_corpus, norm_queries, dim=dim, k=10, rerank=8,
                    n_bits=256, metric="cosine")
    timings["bq256_normalized_cosine_rerank8_20q"] = timed_min(lambda: bq256n.count())
    recall_bq256_norm = round(recall_at_k(exact_cos, bq256n, 10), 4)
    bq256n32 = bq_knn(norm_corpus, norm_queries, dim=dim, k=10, rerank=32,
                      n_bits=256, metric="cosine")
    timings["bq256_normalized_cosine_rerank32_20q"] = timed_min(lambda: bq256n32.count())
    recall_bq256_norm32 = round(recall_at_k(exact_cos, bq256n32, 10), 4)

    # IVF-BQ (r6): the compression matrix's last cell, measured on the
    # honest domain — cell routing prunes partitions AND the probed
    # scan reads 1 bit/dim; same exact-cosine ground truth as above
    ivfbq = IVFStore(os.path.join(tmp, "ivfbq"), n_cells=16)
    t0 = time.perf_counter()
    ivfbq.build(norm_corpus)
    timings["ivfbq_build"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    ivfbq.build_bq(spark, n_bits=256, normalize=True)
    timings["ivfbq_encode"] = round(time.perf_counter() - t0, 3)
    ivfbq_res = ivfbq.knn_bq(spark, norm_queries, k=10, n_probe=4, rerank=32)
    timings["ivfbq256_probe4_rerank32_20q"] = timed_min(lambda: ivfbq_res.count())
    recall_ivfbq = round(recall_at_k(exact_cos, ivfbq_res, 10), 4)
    norm_corpus.unpersist()
    norm_queries.unpersist()

    # Drift monitor at scale (r10, VERDICT r9 #7): PSI+SMD between two
    # n_rows x dim snapshots — the posexplode makes 2·n_rows·dim skinny
    # rows, but every aggregation is map-side-combinable and the joins
    # broadcast O(dim)-row frames, so the probe should track the scan
    # rate, not the join. cur is a genuinely shifted copy (scale+offset)
    # so the alarm math exercises the full-grid PSI path.
    from distributedvectordatabase_spark.operators.drift import embedding_drift

    drifted = loaded.select(
        F.transform(
            "embedding", lambda x: x * F.lit(1.1) + F.lit(0.2)
        ).alias("embedding")
    )
    dr = embedding_drift(loaded.select("embedding"), drifted)
    timings["drift_psi_smd_full"] = timed_min(
        lambda: dr.agg(F.sum("psi")).first(), reps=1
    )

    # Retrieval-eval at scale (r10, VERDICT r9 #7): 10k queries x
    # k=100 run vs a 1M-row qrels table — one (qid, doc) join + per-
    # query windows; skew is bounded by k, so the probe should be
    # shuffle-bound on 2M skinny rows. Synthetic run/qrels generated
    # distributed; doc ids are affine mod a prime-ish stride so every
    # (qid, rnk) pair is distinct (no accidental duplicate retrievals).
    from distributedvectordatabase_spark.operators.evaluate import (
        macro_metrics,
        ranking_metrics,
    )

    n_q, eval_k = 10_000, 100
    run = spark.range(n_q * eval_k).select(
        (F.col("id") % n_q).alias("qid"),
        ((F.col("id") / n_q).cast("long") + 1).alias("rnk"),
        (
            ((F.col("id") % n_q) * 31 + ((F.col("id") / n_q).cast("long") + 1) * 7919)
            % 50_000
        ).alias("doc_id"),
    )
    qrels_scale = spark.range(n_q * eval_k).select(
        (F.col("id") % n_q).alias("qid"),
        (
            ((F.col("id") % n_q) * 31
             + ((F.col("id") / n_q).cast("long") * 3 + 1) * 7919)
            % 50_000
        ).alias("doc_id"),
        ((F.col("id") / n_q).cast("long") % 4).alias("rel"),
    )
    ev_metrics = ranking_metrics(run, qrels_scale, k=eval_k)
    timings["retrieval_eval_10kq_k100"] = timed_min(lambda: ev_metrics.count())
    timings["retrieval_eval_macro"] = timed_min(
        lambda: macro_metrics(ev_metrics).first(), reps=1
    )

    # Crash-heal at scale (r8, VERDICT r7 #7): orphan a FULL append on
    # an n_rows store (rewind the sidecar to its pre-commit form — the
    # same faithful crash construction as tests/test_crash_replay.py),
    # then measure what the commit protocol costs where it matters:
    # (a) the committed read vs the raw scan — the horizon/aborted
    #     predicates are claimed pushed-down literals; assert it in
    #     the executed plan at scale, not just at fixture scale;
    # (b) heal + replay (the next writer folds the orphan gen into
    #     aborted_gens and lands the batch at a fresh gen);
    # (c) compact reclaim (drops the orphan bytes physically).
    import json as _json

    from distributedvectordatabase_spark.plans import scan_pushed_filters

    crash_store = VectorStore(os.path.join(tmp, "crash_store"), SignLSH(dim=dim))
    crash_store.write(loaded.select("vec_id", "embedding"), validate_dim=False)
    crash_batch = (
        loaded.filter(F.col("vec_id") % 10 == 0)
        .select((F.col("vec_id") + F.lit(n_rows)).alias("vec_id"), "embedding")
    )
    n_batch = crash_batch.count()
    with open(crash_store._sidecar_path) as f:
        cfg_before = _json.load(f)
    crash_store.append(crash_batch, validate_dim=False)
    committed_gen = crash_store.current_gen()
    cfg_before["pending_gen"] = committed_gen
    with open(crash_store._sidecar_path, "w") as f:
        _json.dump(cfg_before, f)

    timings["crash_raw_scan"] = timed_min(
        lambda: spark.read.parquet(crash_store.path).count()
    )
    committed_read = crash_store.read(spark)
    timings["crash_committed_read"] = timed_min(lambda: committed_read.count())
    pushed = scan_pushed_filters(committed_read)
    crash_filter_pushed = any("_gen" in f for f in pushed)
    assert crash_filter_pushed, f"commit filters not pushed at scale: {pushed}"
    assert committed_read.count() == n_rows  # orphans invisible

    t0 = time.perf_counter()
    crash_store.append(crash_batch, validate_dim=False)  # heal + replay
    timings["crash_heal_replay_append"] = round(time.perf_counter() - t0, 3)
    healed_read = crash_store.read(spark)
    timings["crash_healed_read"] = timed_min(lambda: healed_read.count())
    assert healed_read.count() == n_rows + n_batch

    t0 = time.perf_counter()
    crash_store.compact(spark)
    timings["crash_compact_reclaim"] = round(time.perf_counter() - t0, 3)
    assert crash_store.read(spark).count() == n_rows + n_batch
    assert spark.read.parquet(crash_store.path).count() == n_rows + n_batch

    # Heal-under-takeover (r9, VERDICT r8 #7): this time the crashed
    # writer DIED HOLDING THE LEASE mid-append. The next writer must
    # (a) take the provably-stale lease over — the rename-aside
    # single-winner path, cross-host shape: dead pid + expired
    # wall-clock, (b) heal the orphan gen, (c) replay — at the same
    # bounded cost as the plain heal above (lease takeover is three
    # fixed file ops; no store-size term beyond the batch write).
    base_rows = n_rows + n_batch
    crash_batch2 = crash_batch.select(
        (F.col("vec_id") + F.lit(n_rows)).alias("vec_id"), "embedding"
    )
    with open(crash_store._sidecar_path) as f:
        cfg_before = _json.load(f)
    crash_store.append(crash_batch2, validate_dim=False)
    cfg_before["pending_gen"] = crash_store.current_gen()
    with open(crash_store._sidecar_path, "w") as f:
        _json.dump(cfg_before, f)
    lock = crash_store.path.rstrip("/") + "__writer.lock"
    with open(lock, "w") as f:
        _json.dump(
            {"pid": 2_999_999, "ts": 0.0,
             "host": os.uname().nodename, "token": "deadwriter"}, f,
        )
    t0 = time.perf_counter()
    crash_store.append(crash_batch2, validate_dim=False)
    timings["crash_heal_under_takeover_append"] = round(
        time.perf_counter() - t0, 3
    )
    assert not os.path.exists(lock)  # taken over, then cleanly released
    assert crash_store.read(spark).count() == base_rows + n_batch

    text_stats: dict[str, float] = {}
    if n_docs:
        from distributedvectordatabase_spark.operators.decontam import (
            ngram_contamination,
        )
        from distributedvectordatabase_spark.operators.dedup import (
            minhash_neardup_pairs,
        )

        docs = synth_docs(spark, n_docs, partitions=int(os.cpu_count() or 32))
        docs.write.mode("overwrite").parquet(os.path.join(tmp, "docs"))
        docs = spark.read.parquet(os.path.join(tmp, "docs"))
        is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "f"
        decon = ngram_contamination(
            docs.filter(~is_bench), docs.filter(is_bench), n=3
        )
        timings["decontam_ngram"] = timed_min(lambda: decon.count())
        text_stats["decontam_flagged"] = decon.count()
        mh = minhash_neardup_pairs(
            docs, threshold=0.7, bands=4, rows=3, shingle_n=3
        )
        timings["minhash_shingle_pairs"] = timed_min(lambda: mh.count())
        text_stats["minhash_pairs"] = mh.count()
        text_stats["n_docs"] = n_docs

        # DSIR importance weighting at scale: the λ table stays 512
        # rows however large the corpus — scoring must be one corpus
        # pass + a broadcast join, so the time should track the
        # tokenize cost, not the join
        from distributedvectordatabase_spark.operators.dsir import (
            dsir_select,
            dsir_weights,
        )

        target_ids = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
        dw = dsir_weights(docs, target_ids)
        timings["dsir_weights"] = timed_min(lambda: dw.count())
        timings["dsir_select_top1k"] = timed_min(
            lambda: dsir_select(dw, 1000).count()
        )

        # unigram-LM EM at scale: distinct words bound the lattice work
        # (the synthetic corpus holds ~5k distinct words whatever
        # n_docs is), so one EM pass should be flat in corpus size
        # once the single word-count pass is paid
        from distributedvectordatabase_spark.operators.bpe import word_vocab
        from distributedvectordatabase_spark.operators.unigram import (
            _em_step,
            _seed_pieces,
        )

        wv = word_vocab(docs).localCheckpoint(eager=True)
        text_stats["unigram_distinct_words"] = wv.count()
        t0 = time.perf_counter()
        seeds = _seed_pieces(wv, seed_size=2000, max_piece_len=6)
        timings["unigram_seed"] = round(time.perf_counter() - t0, 3)
        import math as _math

        stot = sum(s for _, s in seeds)
        uv = {p: _math.log(s) - _math.log(stot) for p, s in seeds if s > 0}
        t0 = time.perf_counter()
        _em_step(wv, uv, max_piece_len=6)
        timings["unigram_em_pass"] = round(time.perf_counter() - t0, 3)

        # BM25 over the synthetic corpus: one rare-ish term + two
        # common ones from the w{0..vocab} vocabulary — measures the
        # vocabulary-pruned explode + tf/df aggregation at scale
        from distributedvectordatabase_spark.operators.search import bm25_topk

        bm = bm25_topk(docs, ["w7", "w42", "w4999"], k=10)
        timings["bm25_topk"] = timed_min(lambda: bm.count())

        # indexed form: pay tokenize+tf once, then queries partition-
        # prune to the terms' hash buckets
        from distributedvectordatabase_spark.sources.text_index import TextIndex

        tix = TextIndex(os.path.join(tmp, "text_index"), n_buckets=32)
        t0 = time.perf_counter()
        tix.build(docs)
        timings["text_index_build"] = round(time.perf_counter() - t0, 3)
        bq = tix.bm25(spark, ["w7", "w42", "w4999"], k=10)
        timings["bm25_indexed"] = timed_min(lambda: bq.count())

        # persistent signature store: pay corpus signatures once, then
        # each ingest batch joins against pruned band buckets instead
        # of recomputing the corpus side (vs minhash_neardup_join which
        # recomputes it per batch)
        from distributedvectordatabase_spark.operators.dedup import (
            minhash_neardup_join,
        )
        from distributedvectordatabase_spark.sources.sig_store import SigStore

        batch = docs.filter(is_bench)  # ~1/16 of docs as the "new" batch
        corpus_side = docs.filter(~is_bench)
        sig = SigStore(
            os.path.join(tmp, "sig_store"), bands=4, rows=3, shingle_n=3,
            n_buckets=32,
        )
        t0 = time.perf_counter()
        sig.build(corpus_side)
        timings["sig_store_build"] = round(time.perf_counter() - t0, 3)
        sj = sig.join_batch(batch, threshold=0.7)
        timings["sig_store_join_batch"] = timed_min(lambda: sj.count())
        oneshot = minhash_neardup_join(
            batch, corpus_side, threshold=0.7, bands=4, rows=3, shingle_n=3
        )
        timings["minhash_join_oneshot"] = timed_min(lambda: oneshot.count())
        text_stats["sig_store_batch_hits"] = sj.count()

        # mixture sampling at scale: epoch expansion is map-side only
        # (should track the scan rate); stratified quota compares the
        # survivor-prefilter path against the full-window form it must
        # equal (the win is the shuffle: O(strata·k) vs O(corpus) rows)
        from distributedvectordatabase_spark.operators.mixing import (
            mix_corpus,
            stratified_sample,
        )

        sdocs = docs.withColumn(
            "source", F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string"))
        )
        timings["mix_corpus_2p5x"] = timed_min(
            lambda: mix_corpus(sdocs, {"src0": 2.5, "src1": 0.25}).count()
        )
        # construction inside the lambda: the prefilter's sufficiency
        # count is part of the path's real cost
        timings["strat_sample_prefilter"] = timed_min(
            lambda: stratified_sample(sdocs, 100).count()
        )
        timings["strat_sample_full_window"] = timed_min(
            lambda: stratified_sample(sdocs, 100, prefilter=False).count()
        )

        # PII scrub throughput: pure-codegen regexp scan, zero matches
        # on this corpus — measures the regex cost itself
        from distributedvectordatabase_spark.operators.scrub import scrub_pii

        timings["pii_scrub"] = timed_min(
            lambda: scrub_pii(docs)
            .filter("n_email + n_ip + n_phone + n_idnum > 0")
            .count()
        )

        # char-trigram LM scoring over the full corpus: the heavy text
        # aggregation (trigram explode + per-(doc, trigram) counts
        # persisted once + two tiny groupBys + contribution joinback)
        # — the catalog gate's own DataFrame runner. Aggregate the
        # SCORE, not count(): Catalyst's column pruning drops the whole
        # log-prob computation under a bare count (measured 10x
        # apart). One rep — the pass is minutes at 1M docs.
        from distributedvectordatabase_spark.catalog import doc_lm_score_df

        lm = doc_lm_score_df(docs.withColumn("lang", F.lit("en")))
        timings["doc_lm_score"] = timed_min(
            lambda: lm.agg(F.sum("lm_score")).first(), reps=1
        )

        # BPE tokenizer training (r6): the vocab-bounded-loop claim,
        # measured — one corpus pass to the word-freq table, then 20
        # merge iterations over the distinct vocabulary only. One rep:
        # train is a minutes-scale offline job by nature.
        from distributedvectordatabase_spark.operators.bpe import bpe_train

        t0 = time.perf_counter()
        bpe_merges = bpe_train(docs, n_merges=20)
        timings["bpe_train_20_merges"] = round(time.perf_counter() - t0, 3)
        text_stats["bpe_merges_learned"] = len(bpe_merges)

        # hybrid serving at scale (r6): the engine's flagship composed
        # query served entirely from persisted structures — SQ8
        # semantic leg (1 byte/dim codes, LSH-pruned) + indexed BM25
        # leg (term-bucket-pruned postings), RRF-fused per qid. One
        # embedding per doc so the two legs share an id space; the
        # legs are timed separately to show their share of the serve.
        from distributedvectordatabase_spark.operators.search import (
            hybrid_serve_batch,
        )

        demb = synth_corpus(spark, n_docs, partitions=int(cpus), dim=dim)
        hstore = VectorStore(os.path.join(tmp, "hybrid_store"), SignLSH(dim=dim))
        t0 = time.perf_counter()
        hstore.write(demb, validate_dim=False)
        hstore.build_sq(spark)
        timings["hybrid_store_build_sq8"] = round(time.perf_counter() - t0, 3)
        hq = (
            hstore.read(spark)
            .orderBy("vec_id")
            .limit(8)
            .select(
                F.col("vec_id").alias("qid"),
                F.col("embedding").alias("qvec"),
            )
            .withColumn(
                "terms",
                F.array(F.lit("w7"), F.lit("w42"),
                        F.concat(F.lit("w"), (F.col("qid") % 100).cast("string"))),
            )
            .cache()
        )
        hq.count()
        vec_leg = hstore.knn_sq(
            spark, hq.select("qid", "qvec"), k=40, pruned=True,
            num_candidates=2, rerank=2,
        )
        timings["hybrid_vec_leg_sq8_8q"] = timed_min(lambda: vec_leg.count())
        text_leg = tix.bm25_batch(spark, hq.select("qid", "terms"), k=40)
        timings["hybrid_text_leg_indexed_8q"] = timed_min(lambda: text_leg.count())
        served = hybrid_serve_batch(
            spark, hstore, tix, hq, k=10, use_sq=True,
            num_candidates=2,
        )
        timings["hybrid_serve_batch_sq8_8q"] = timed_min(lambda: served.count())
        text_stats["hybrid_serve_rows"] = served.count()
        hq.unpersist()

        # Gopher repetition filter at scale (r10, VERDICT r9 #2): two
        # map-side-combinable (doc_id, shingle) groupBys + skinny
        # doc-keyed joinbacks; the synthetic corpus's planted near-dups
        # are WITHIN-doc diverse, so the keep rate stays high and the
        # probe measures the honest shingle-count cost.
        from distributedvectordatabase_spark.operators.gopher import (
            gopher_repetition,
        )

        gr = gopher_repetition(docs)
        timings["gopher_repetition"] = timed_min(
            lambda: gr.agg(F.sum("keep")).first(), reps=1
        )
        text_stats["gopher_kept"] = gr.filter("keep = 1").count()

        # Exact repeated-substring detection at scale (r10, VERDICT r9
        # #2): the stage to measure is marks = sh JOIN dup — the full
        # 8-shingle explode re-joined against the non-broadcastable
        # duplicated-shingle set (every 10th synthetic doc repeats its
        # predecessor, so the dup set is ~10% of the shingle space).
        # Timed via the stats aggregate so column pruning can't drop
        # the span merge; the trim pass (explode spans + anti-join +
        # per-doc reassembly) is timed separately.
        from distributedvectordatabase_spark.operators.substring_dedup import (
            substring_stats,
            substring_trim,
        )

        ss = substring_stats(docs, k=8)
        timings["substring_stats"] = timed_min(
            lambda: ss.agg(F.sum("dup_tokens")).first(), reps=1
        )
        # the one-shuffle window strategy vs the AQE-skew-safe join
        # (row-identity pinned in tests; this measures the trade)
        ssw = substring_stats(docs, k=8, via="window")
        timings["substring_stats_window"] = timed_min(
            lambda: ssw.agg(F.sum("dup_tokens")).first(), reps=1
        )
        text_stats["substring_docs_with_dups"] = ss.filter("clean = 0").count()
        tr = substring_trim(docs, k=8)
        timings["substring_trim"] = timed_min(
            lambda: tr.agg(F.sum("kept_words")).first(), reps=1
        )

        # Planted HOT shingle (r11, VERDICT r10 #3): one 8-gram in ~30%
        # of docs. The join strategy survives via AQE skew-split on the
        # dup-set join; the window strategy funnels every hot-shingle
        # row into ONE WindowExec partition — this measures that trade
        # so "join stays default" is a recorded number, not a docstring
        # claim.
        hot_phrase = " ".join(f"hotw{i}" for i in range(8))
        hotdocs = docs.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.col("text"), F.lit(" " + hot_phrase)),
            ).otherwise(F.col("text")),
        )
        ssh_j = substring_stats(hotdocs, k=8, via="join")
        timings["substring_stats_hot30pct_join"] = timed_min(
            lambda: ssh_j.agg(F.sum("dup_tokens")).first(), reps=1
        )
        ssh_w = substring_stats(hotdocs, k=8, via="window")
        timings["substring_stats_hot30pct_window"] = timed_min(
            lambda: ssh_w.agg(F.sum("dup_tokens")).first(), reps=1
        )

        # Language identification at scale (r11): pure per-row
        # expression work — the probe should track scan bandwidth.
        # Aggregate on the PREDICTION so column pruning can't drop the
        # scoring expressions under a bare count.
        from distributedvectordatabase_spark.operators.langid import langid

        lid = langid(docs)
        timings["langid"] = timed_min(
            lambda: lid.groupBy("lang_pred").count().collect(), reps=1
        )

        # Composed curation chain with tokenize-once (r11, VERDICT r10
        # #4): tokenize once (staged parquet) -> gopher_filter ->
        # substring_trim -> shingle-MinHash dedup -> DSIR select ->
        # mix -> pack -> export, ONE wall-clock number. Every stage
        # reuses the persisted token column (plan-asserted in
        # tests/test_curation.py).
        from distributedvectordatabase_spark.operators.curation import (
            curate_corpus,
        )

        cdocs = docs.withColumn(
            "source", F.concat(F.lit("s"), (F.col("doc_id") % 4).cast("string"))
        )
        target = docs.select("doc_id").filter(f"doc_id < {max(n_docs // 100, 10)}")
        t0 = time.perf_counter()
        cres = curate_corpus(
            spark,
            cdocs,
            os.path.join(tmp, "curation"),
            target_ids=target,
            select_k=max(n_docs // 10, 100),
            rates={"s0": 2.0, "s1": 0.5},
            pack_budget=2048,
            n_shards=32,
            collect_stats=True,
        )
        timings["curation_chain_e2e"] = round(time.perf_counter() - t0, 3)
        text_stats["curation"] = cres.stats
        cres.trimmed.unpersist()
        cres.deduped.unpersist()

    # ---- Z-order layout probe: data-skipping at scale ----------------
    # n_rows synthetic events over a (user_id, value) plane; the same
    # table written time-ordered (event_id ranges) vs Z-ordered. A 1/8
    # x 1/8 box predicate then measures (a) what fraction of files the
    # footer min-max stats can prune, (b) the wall-clock of the pruned
    # scan. At 100 TB (a) IS the scan cost — files never opened.
    from distributedvectordatabase_spark.operators.zorder import cluster_by_zorder

    zorder_stats: dict = {}
    ev = (
        spark.range(n_rows)
        .select(
            F.col("id").alias("event_id"),
            F.pmod(F.hash(F.col("id") * 2654435761) , F.lit(10_000)).alias("user_id"),
            (-F.log(
                (F.pmod(F.hash(F.col("id") * 40503 + 7), F.lit(1_000_000)) + 1.0)
                / 1_000_001.0
            ) * 50.0).alias("value"),
        )
    )
    n_files = 64
    zdir, ldir = os.path.join(tmp, "ev_z"), os.path.join(tmp, "ev_linear")
    t0 = time.perf_counter()
    cluster_by_zorder(ev, ["user_id", "value"], num_files=n_files, bits=8).write.parquet(zdir)
    zorder_stats["zorder_write_s"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    ev.repartitionByRange(n_files, "event_id").sortWithinPartitions("event_id").write.parquet(ldir)
    zorder_stats["linear_write_s"] = round(time.perf_counter() - t0, 3)

    def _overlap_fraction(d: str, uhi: int, vhi: float) -> float:
        import glob

        import pyarrow.parquet as pq

        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        hit = 0
        for fpath in files:
            md = pq.ParquetFile(fpath).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            ok = False
            for g in range(md.num_row_groups):
                su = md.row_group(g).column(names["user_id"]).statistics
                sv = md.row_group(g).column(names["value"]).statistics
                if su.min <= uhi and sv.min <= vhi:
                    ok = True
                    break
            hit += ok
        return round(hit / len(files), 4)

    uhi, vhi = 10_000 // 8, 14.9  # ~1/8 of users x ~1/4 of the exp(50) mass
    zorder_stats["zorder_files_overlapping_box"] = _overlap_fraction(zdir, uhi, vhi)
    zorder_stats["linear_files_overlapping_box"] = _overlap_fraction(ldir, uhi, vhi)
    box = f"user_id <= {uhi} AND value <= {vhi}"
    zq = spark.read.parquet(zdir).filter(box)
    lq = spark.read.parquet(ldir).filter(box)
    assert zq.count() == lq.count()  # layouts hold identical data
    zorder_stats["zorder_box_scan_s"] = timed_min(lambda: zq.agg(F.sum("value")).collect())
    zorder_stats["linear_box_scan_s"] = timed_min(lambda: lq.agg(F.sum("value")).collect())

    print(
        json.dumps(
            {
                "metric": "scale_probe_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "n_rows": n_rows,
                "dim": dim,
                "recall_at_10_pruned": recall,
                "recall_at_10_ivfpq": recall_ivfpq,
                "recall_at_10_ivfsq": recall_ivfsq,
                "recall_at_10_filtered_escalated": recall_filtered,
                "recall_at_10_sq8_rerank2": recall_sq,
                "recall_at_10_bq_rerank2": recall_bq2,
                "recall_at_10_bq_rerank8": recall_bq8,
                "recall_at_10_bq256_rerank8": recall_bq256,
                "recall_at_10_bq256_normalized_cosine": recall_bq256_norm,
                "recall_at_10_bq256_normalized_cosine_rerank32": recall_bq256_norm32,
                "recall_at_10_ivfbq256_probe4_rerank32": recall_ivfbq,
                "corpus_rank": rank or None,
                "semdedup_planted": n_planted,
                "semdedup_removed": semdedup_removed,
                **text_stats,
                "crash_filter_pushed": crash_filter_pushed,
                "zorder": zorder_stats,
                "ingest_rows_per_s": round(n_rows / timings["ingest_bucketed_write"]),
            }
        )
    )
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
