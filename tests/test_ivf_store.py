"""IVFStore: build/query separation, partition pruning, append-to-
existing-centroids ingest, recall vs exact."""

import pytest
from pyspark.sql import functions as F

from distributedvectordatabase_spark.operators.knn import knn, recall_at_k
from distributedvectordatabase_spark.plans import scan_partition_filters
from distributedvectordatabase_spark.sources.ivf_store import IVFStore
from distributedvectordatabase_spark.sources.tables import load_table, queries_fixture
from tests.conftest import SF_SMALL

K = 10


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    store = IVFStore(str(tmp_path_factory.mktemp("ivf") / "idx"), n_cells=8)
    store.build(load_table(spark, "embeddings", SF_SMALL))
    return store


def test_build_partitions_by_cell(spark, built):
    df = built.read(spark)
    assert df.count() == 500
    cells = {r.cell_id for r in df.select("cell_id").distinct().collect()}
    assert cells <= set(range(8)) and len(cells) > 1
    assert built.centroids().shape == (8, 64)


def test_knn_prunes_partitions_and_ranks(spark, built):
    qs = queries_fixture(spark, SF_SMALL, n=5)
    res = built.knn(spark, qs, k=K, n_probe=2)
    pf = scan_partition_filters(res)
    assert pf and any("cell_id" in f for f in pf), pf
    rows = res.collect()
    assert len(rows) == 5 * K
    # self-query: own cell is always the nearest-probed → perfect self hit
    by_q = {r.qid: r for r in rows if r.rnk == 1}
    assert all(r.neighbor_id == qid and r.dist <= 1e-6 for qid, r in by_q.items())


def test_recall_vs_exact_reasonable(spark, built):
    qs = queries_fixture(spark, SF_SMALL, n=20)
    exact = knn(load_table(spark, "embeddings", SF_SMALL), qs, k=K)
    approx = built.knn(spark, qs, k=K, n_probe=4)
    r = recall_at_k(exact, approx, K)
    assert r >= 0.6, f"recall@{K} too low: {r}"
    # probing all cells must be exact
    full = built.knn(spark, qs, k=K, n_probe=8)
    assert recall_at_k(exact, full, K) == 1.0


def test_append_assigns_existing_centroids(spark, built, tmp_path):
    emb = load_table(spark, "embeddings", SF_SMALL)
    extra = emb.select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    ).limit(50)
    before = built.read(spark).count()
    built.append(extra)
    after_df = built.read(spark)
    assert after_df.count() == before + 50
    # appended copies of existing vectors land in the same cell as the original
    orig = {r.vec_id: r.cell_id for r in built.read(spark).filter(F.col("vec_id") < 50).collect()}
    dup = {
        r.vec_id - 10_000: r.cell_id
        for r in built.read(spark).filter(F.col("vec_id") >= 10_000).collect()
    }
    shared = orig.keys() & dup.keys()
    assert shared and all(orig[k] == dup[k] for k in shared)


def test_compact_restores_layout_preserves_results(spark, tmp_path):
    """Appends fragment cell dirs; compact() must reduce to
    files_per_cell files per cell with identical content and identical
    pruned-search results."""
    import glob
    import os

    emb = load_table(spark, "embeddings", SF_SMALL)
    s = IVFStore(str(tmp_path / "idx"), n_cells=8)
    s.build(emb.filter(F.col("vec_id") < 300))
    s.append(emb.filter(F.col("vec_id") >= 300))
    qs = queries_fixture(spark, SF_SMALL, n=3)

    def files():
        return glob.glob(os.path.join(s.path, "cell_id=*", "*.parquet"))

    before = sorted(map(tuple, s.knn(spark, qs, k=K, n_probe=4).collect()))
    n_before = len(files())
    s.compact(spark)
    n_after = len(files())
    assert n_after < n_before and n_after <= 8
    assert s.read(spark).count() == 500
    after = sorted(map(tuple, s.knn(spark, qs, k=K, n_probe=4).collect()))
    assert after == before


def test_recall_probe_sweep_invariants(spark):
    """The catalog's ann_ivf_recall gate: recall@k is nondecreasing in
    n_probe and exactly 1.0 when every cell is probed (full probe ==
    exact search by construction)."""
    from distributedvectordatabase_spark.catalog import build_catalog

    rows = sorted(
        build_catalog()["ann_ivf_recall"].run(spark, SF_SMALL).collect(),
        key=lambda r: r.n_probe,
    )
    assert [r.n_probe for r in rows] == [4, 8, 16]
    recalls = [r.recall_at_k for r in rows]
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 1.0, recalls
    assert recalls[0] >= 0.5, recalls


@pytest.fixture(scope="module")
def built_pq(spark, tmp_path_factory):
    store = IVFStore(str(tmp_path_factory.mktemp("ivfpq") / "idx"), n_cells=8)
    store.build(load_table(spark, "embeddings", SF_SMALL))
    store.build_pq(spark, m=16, nbits=6)
    return store


def test_ivfpq_codes_partitioned_and_codebook_roundtrip(spark, built_pq):
    codes = spark.read.parquet(built_pq._pq_path)
    assert codes.count() == 500
    assert set(codes.columns) == {"vec_id", "codes", "cell_id", "_gen"}
    cb = built_pq.pq_codebook()
    assert cb.centroids.shape == (16, 64, 4)  # m=16, ksub=2^6, dsub=64/16
    # codes and cell assignment agree with the raw table
    raw_cells = {r.vec_id: r.cell_id for r in built_pq.read(spark).collect()}
    for r in codes.select("vec_id", "cell_id").collect():
        assert raw_cells[r.vec_id] == r.cell_id


def test_ivfpq_search_prunes_and_reranks(spark, built_pq):
    qs = queries_fixture(spark, SF_SMALL, n=10)
    res = built_pq.knn_pq(spark, qs, k=K, n_probe=2, rerank=4)
    pf = scan_partition_filters(res)
    assert pf and any("cell_id" in f for f in pf), pf
    rows = res.collect()
    assert len(rows) == 10 * K
    # rerank distances are exact → self-query top-1 is itself at ~0
    by_q = {r.qid: r for r in rows if r.rnk == 1}
    assert all(r.neighbor_id == qid and r.dist <= 1e-6 for qid, r in by_q.items())


def test_ivfpq_recall_vs_exact(spark, built_pq):
    qs = queries_fixture(spark, SF_SMALL, n=20)
    exact = knn(load_table(spark, "embeddings", SF_SMALL), qs, k=K)
    # full probe + rerank: the only loss is the ADC shortlist, so
    # recall must be >= the raw-ADC floor and near-exact in practice
    approx = built_pq.knn_pq(spark, qs, k=K, n_probe=8, rerank=4)
    r_full = recall_at_k(exact, approx, K)
    assert r_full >= 0.85, r_full
    # fewer probes can only lose candidates
    r_probe2 = recall_at_k(
        exact, built_pq.knn_pq(spark, qs, k=K, n_probe=2, rerank=4), K
    )
    assert r_probe2 <= r_full + 1e-9


def test_compact_preserves_pq_sidecars(spark, tmp_path):
    store = IVFStore(str(tmp_path / "idx"), n_cells=4)
    store.build(load_table(spark, "embeddings", SF_SMALL).limit(200))
    store.build_pq(spark, m=8, nbits=4)
    qs = queries_fixture(spark, SF_SMALL, n=3)
    before = sorted(
        (r.qid, r.neighbor_id, r.rnk) for r in store.knn_pq(spark, qs, k=5).collect()
    )
    store.compact(spark)
    after = sorted(
        (r.qid, r.neighbor_id, r.rnk) for r in store.knn_pq(spark, qs, k=5).collect()
    )
    assert before == after


def test_ivfpq_append_keeps_codes_in_sync(spark, tmp_path):
    """append after build_pq encodes the new rows with the existing
    codebook, so knn_pq can find them without a rebuild."""
    emb = load_table(spark, "embeddings", SF_SMALL)
    store = IVFStore(str(tmp_path / "idx"), n_cells=4)
    store.build(emb.filter("vec_id < 400"))
    store.build_pq(spark, m=8, nbits=4)
    store.append(emb.filter("vec_id >= 400"))

    codes = spark.read.parquet(store._pq_path)
    assert codes.count() == 500
    # appended ids present in the compressed table
    assert codes.filter("vec_id >= 400").count() == 100

    # a self-query for an appended vector must surface it at rank 1
    q = (
        emb.filter("vec_id = 450")
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    )
    top = store.knn_pq(spark, q, k=3, n_probe=4, rerank=2).collect()
    best = min(top, key=lambda r: r.rnk)
    assert best.neighbor_id == 450 and best.dist <= 1e-6


@pytest.fixture(scope="module")
def built_pq_raw(spark, tmp_path_factory):
    """Same corpus/params as built_pq but raw-vector (non-residual)
    encoding — the r4 formulation, kept for A/B comparison."""
    store = IVFStore(str(tmp_path_factory.mktemp("ivfpq_raw") / "idx"), n_cells=8)
    store.build(load_table(spark, "embeddings", SF_SMALL))
    store.build_pq(spark, m=16, nbits=6, residual=False)
    return store


def test_residual_flag_persisted(spark, built_pq, built_pq_raw):
    assert built_pq.pq_is_residual() is True
    assert built_pq_raw.pq_is_residual() is False


def test_residual_adc_recall_not_worse_than_raw(spark, built_pq, built_pq_raw):
    """The point of residual encoding (Jégou §IV-A): at the same code
    budget, encoding x - centroid[cell] quantizes a smaller domain, so
    raw-ADC recall (rerank=0 — no exact rescue) must not drop below
    the raw-vector formulation's, and reconstruction MSE must be
    strictly lower."""
    from distributedvectordatabase_spark.operators.pq import pq_reconstruction_mse

    qs = queries_fixture(spark, SF_SMALL, n=20)
    exact = knn(load_table(spark, "embeddings", SF_SMALL), qs, k=K)
    r_res = recall_at_k(exact, built_pq.knn_pq(spark, qs, k=K, n_probe=8, rerank=0), K)
    r_raw = recall_at_k(
        exact, built_pq_raw.knn_pq(spark, qs, k=K, n_probe=8, rerank=0), K
    )
    assert r_res >= r_raw - 1e-9, (r_res, r_raw)
    assert r_res >= 0.5, r_res

    mse_res = pq_reconstruction_mse(
        built_pq.read(spark), built_pq.pq_codebook(),
        cell_centroids=built_pq.centroids(),
    )
    mse_raw = pq_reconstruction_mse(built_pq_raw.read(spark), built_pq_raw.pq_codebook())
    assert mse_res < mse_raw, (mse_res, mse_raw)


def test_residual_self_query_rank1_without_rerank(spark, built_pq):
    """Residual ADC alone (no exact rerank) must still put a corpus
    vector first for its own query — quantization error is far below
    the nearest-neighbor gap on this corpus."""
    qs = queries_fixture(spark, SF_SMALL, n=5)
    rows = built_pq.knn_pq(spark, qs, k=3, n_probe=8, rerank=0).collect()
    by_q = {r.qid: r for r in rows if r.rnk == 1}
    assert all(r.neighbor_id == qid for qid, r in by_q.items())


def test_residual_search_partition_independent(spark, built_pq):
    """Residual ADC distances are fixed-order sums per row, so results
    must not change when the codes table is read differently (the
    per-cell LUT gather handles multi-cell batches identically)."""
    qs = queries_fixture(spark, SF_SMALL, n=5)
    a = sorted(
        (r.qid, r.neighbor_id, r.rnk)
        for r in built_pq.knn_pq(spark, qs, k=5, n_probe=4, rerank=0).collect()
    )
    from distributedvectordatabase_spark.operators.pq import pq_search

    # same search, codes repartitioned to mix cells inside batches
    C = built_pq.centroids()
    import numpy as np

    qrows = qs.collect()
    cand_map = {}
    for r in qrows:
        qv = np.asarray(list(r.qvec), dtype=np.float64)
        order = np.argsort(((C - qv) ** 2).sum(axis=1))[:4]
        cand_map[int(r.qid)] = frozenset(int(c) for c in order)
    codes = spark.read.parquet(built_pq._pq_path).repartition(7)
    b = sorted(
        (r.qid, r.neighbor_id, r.rnk)
        for r in pq_search(
            codes, built_pq.pq_codebook(), qs, k=5,
            shard_col="cell_id", cand_map=cand_map, cell_centroids=C,
        ).collect()
    )
    assert a == b


def test_delete_filters_raw_and_codes(spark, tmp_path):
    """Tombstones must hide ids from BOTH the raw scan (ivf knn) and
    the PQ codes (ADC-only search, rerank=0) — a dead id surviving in
    the codes table would resurface whenever rerank is off."""
    store = IVFStore(str(tmp_path / "ivf_del"), n_cells=4)
    emb = load_table(spark, "embeddings", SF_SMALL)
    store.build(emb)
    store.build_pq(spark, m=8, nbits=4)
    qs = queries_fixture(spark, SF_SMALL, n=5)
    victims = [int(r.neighbor_id) for r in store.knn(spark, qs, k=3, n_probe=4).collect()][:5]
    store.delete(spark, victims)
    assert store.read(spark).count() == 500 - len(set(victims))
    got = store.knn(spark, qs, k=K, n_probe=4)
    assert got.filter(F.col("neighbor_id").isin(victims)).count() == 0
    adc = store.knn_pq(spark, qs, k=K, n_probe=4, rerank=0)
    assert adc.filter(F.col("neighbor_id").isin(victims)).count() == 0


def test_upsert_moves_vector_and_keeps_codes_in_sync(spark, tmp_path):
    """Upserting a vector with new coordinates must relocate it to the
    new nearest cell and re-encode its codes: both search paths find
    the NEW vector, never the old one."""
    store = IVFStore(str(tmp_path / "ivf_up"), n_cells=4)
    emb = load_table(spark, "embeddings", SF_SMALL)
    store.build(emb)
    store.build_pq(spark, m=8, nbits=4)
    # replace vec 7 with an exact copy of vec 123's embedding
    target = emb.filter(F.col("vec_id") == 123).first().embedding
    new = spark.createDataFrame([(7, list(target))], "vec_id long, embedding array<float>")
    store.upsert(new)
    assert store.read(spark).count() == 500
    qs = spark.createDataFrame([(0, list(target))], "qid long, qvec array<float>")
    res = store.knn(spark, qs, k=2, n_probe=4).collect()
    # both 7 and 123 are now exactly at the query point
    assert {r.neighbor_id for r in res} == {7, 123}
    assert all(r.dist <= 1e-6 for r in res)
    # the codes table carries exactly one live row for id 7
    assert store._codes_live(spark).filter(F.col("vec_id") == 7).count() == 1


def test_compact_folds_tombstones_in_both_tables(spark, tmp_path):
    import os

    store = IVFStore(str(tmp_path / "ivf_fold"), n_cells=4)
    store.build(load_table(spark, "embeddings", SF_SMALL))
    store.build_pq(spark, m=8, nbits=4)
    store.delete(spark, list(range(20)))
    qs = queries_fixture(spark, SF_SMALL, n=5)
    before = {(r.qid, r.neighbor_id) for r in store.knn(spark, qs, k=K, n_probe=4).collect()}
    store.compact(spark)
    assert not os.path.exists(os.path.join(str(tmp_path / "ivf_fold"), "_tombstones"))
    assert spark.read.parquet(store.path).count() == 480  # physically gone
    assert spark.read.parquet(store._pq_path).count() == 480
    after = {(r.qid, r.neighbor_id) for r in store.knn(spark, qs, k=K, n_probe=4).collect()}
    assert after == before


# -- IVF-SQ8 ----------------------------------------------------------------


@pytest.fixture()
def built_sq(spark, tmp_path):
    import numpy as np

    store = IVFStore(str(tmp_path / "ivfsq"), n_cells=8)
    store.build(load_table(spark, "embeddings", SF_SMALL))
    store.build_sq(spark)
    return store


def test_ivfsq_full_probe_rerank_is_exact(spark, built_sq):
    qs = queries_fixture(spark, SF_SMALL, n=10)
    exact = knn(load_table(spark, "embeddings", SF_SMALL), qs, k=K)
    res = built_sq.knn_sq(spark, qs, k=K, n_probe=8, rerank=3)
    assert recall_at_k(exact, res, K) >= 0.99
    top = {r.qid: r.neighbor_id for r in res.filter("rnk = 1").collect()}
    assert all(nid == qid for qid, nid in top.items())


def test_ivfsq_prunes_partitions_and_probe_monotone(spark, built_sq):
    qs = queries_fixture(spark, SF_SMALL, n=10)
    res = built_sq.knn_sq(spark, qs, k=K, n_probe=2, rerank=2)
    pf = scan_partition_filters(res)
    assert pf and any("cell_id" in f for f in pf), pf
    exact = knn(load_table(spark, "embeddings", SF_SMALL), qs, k=K)
    r2 = recall_at_k(exact, res, K)
    r8 = recall_at_k(
        exact, built_sq.knn_sq(spark, qs, k=K, n_probe=8, rerank=2), K
    )
    assert r8 >= r2


def test_ivfsq_append_and_delete_stay_in_sync(spark, built_sq):
    import numpy as np

    vec = np.full(64, 3.0)
    extra = spark.createDataFrame(
        [(9001, vec.tolist())], schema="vec_id long, embedding array<float>"
    )
    built_sq.append(extra)
    q = spark.createDataFrame(
        [(1, vec.tolist())], schema="qid long, qvec array<double>"
    )
    res = built_sq.knn_sq(spark, q, k=1, n_probe=8, rerank=2).collect()
    assert res and res[0].neighbor_id == 9001
    built_sq.delete(spark, [9001])
    after = built_sq.knn_sq(spark, q, k=3, n_probe=8, rerank=0).collect()
    assert 9001 not in {r.neighbor_id for r in after}


def test_ivfsq_compact_carries_sidecar(spark, built_sq):
    import os

    qs = queries_fixture(spark, SF_SMALL, n=5)
    built_sq.delete(spark, [0])
    want = {(r.qid, r.neighbor_id, r.rnk)
            for r in built_sq.knn_sq(spark, qs, k=5, n_probe=8, rerank=0).collect()}
    built_sq.compact(spark)
    got = {(r.qid, r.neighbor_id, r.rnk)
           for r in built_sq.knn_sq(spark, qs, k=5, n_probe=8, rerank=0).collect()}
    assert got == want
    assert spark.read.parquet(built_sq._sq_path).filter("vec_id = 0").count() == 0
    assert not os.path.exists(built_sq._tombstone_path)


# -- cell-balance audit + oversized-cell split (r6) --------------------------


def _skewed_df(spark, n=6000, dim=16):
    """80% of rows in one tight mode (ids 0..0.8n-1), the rest spread
    wide (the last 0.2n ids). A cell trained on the spread rows alone
    catches the whole mode when it is appended later — the hot-cell
    shape of a live store whose centroids are frozen."""
    import numpy as np

    rng = np.random.RandomState(0)
    hot = rng.standard_normal((int(n * 0.8), dim)) * 0.05 + 5.0
    spread = rng.standard_normal((n - len(hot), dim)) * 3.0
    X = np.vstack([hot, spread])
    return spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)], "vec_id long, embedding array<double>"
    )


def test_cell_metrics_audit(spark, built):
    # the module-scoped store may have absorbed earlier tests' appends;
    # audit against its current live count, not the fixture's 500
    n = built.read(spark).count()
    m = built.cell_metrics(spark).first()
    assert m.max_count >= m.min_count
    assert abs(m.avg_count - n / 8) < 1e-6
    assert m.distribution_quality in {"excellent", "good", "acceptable", "uneven"}
    dist = built.cell_distribution(spark)
    assert abs(sum(r.pct for r in dist.collect()) - 100.0) < 1e-3


def test_split_threshold_bounds_hot_cell(spark, tmp_path):
    """Cells trained on the spread rows, then the dense mode appended
    to the frozen centroids: one cell takes the whole mode, and the
    split rebalance must bring every cell under t x the mean."""
    df = _skewed_df(spark)
    n = df.count()
    hot = F.col("vec_id") < int(n * 0.8)
    s = IVFStore(str(tmp_path / "s"), n_cells=8)
    s.build(df.filter(~hot))
    s.append(df.filter(hot))
    m0 = s.cell_metrics(spark).first()
    assert m0.max_count > 0.5 * n  # the skew is real before the fix

    # each round sizes its subcells against the current mean, which
    # falls as cells are added, so a mode the fit never saw takes more
    # rounds than the default 3 (as in the streamed-skew test below)
    s.compact(spark, split_threshold=2.0, max_split_rounds=6)
    m1 = s.cell_metrics(spark).first()
    assert s.n_cells > 8  # subcells were added
    assert m1.max_count <= 2.0 * m1.avg_count + 1  # the promised bound
    assert m1.max_count < 0.2 * n
    assert s.read(spark).count() == n


def test_split_store_exact_probe_and_reopen(spark, tmp_path):
    """Full-probe kNN over the split store must equal exact kNN (the
    ann_ivf_exact_probe invariant), reopen must adopt the enlarged
    n_cells, and append must route into subcells."""
    df = _skewed_df(spark, n=3000)
    s = IVFStore(str(tmp_path / "s"), n_cells=6)
    s.build(df, split_threshold=2.0)
    qs = df.limit(4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    a = sorted(
        (r.qid, r.neighbor_id, r.rnk)
        for r in s.knn(spark, qs, k=5, n_probe=s.n_cells).collect()
    )
    e = sorted((r.qid, r.neighbor_id, r.rnk) for r in knn(df, qs, k=5).collect())
    assert a == e
    reopened = IVFStore(str(tmp_path / "s"))
    assert reopened.n_cells == s.n_cells
    assert reopened.centroids().shape == (s.n_cells, 16)
    extra = df.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    reopened.append(extra)
    assert reopened.read(spark).count() == 3000 + 10


# -- metadata-filtered search (r6) ------------------------------------------


@pytest.fixture(scope="module")
def built_meta(spark, tmp_path_factory):
    store = IVFStore(
        str(tmp_path_factory.mktemp("ivf_meta") / "idx"), n_cells=8,
        meta_cols=("label",),
    )
    store.build(load_table(spark, "embeddings", SF_SMALL))
    return store


def test_meta_cols_colocated_and_reopen_authoritative(spark, built_meta):
    assert "label" in built_meta.read(spark).columns
    # a bare reopen learns meta_cols (and n_cells) from the sidecar
    re = IVFStore(built_meta.path)
    assert re.meta_cols == ("label",)
    assert re.n_cells == built_meta.n_cells


def test_filtered_knn_full_probe_equals_exact_filtered(spark, built_meta):
    qs = queries_fixture(spark, SF_SMALL, n=10)
    emb = load_table(spark, "embeddings", SF_SMALL)
    exact = knn(emb.filter("label % 4 = 1"), qs, k=K)
    got = built_meta.knn(spark, qs, k=K, n_probe=8, where="label % 4 = 1")
    assert recall_at_k(exact, got, K) == 1.0
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert all(labels[r.neighbor_id] % 4 == 1 for r in got.collect())


def test_filtered_knn_escalates_to_exact(spark, built_meta):
    """A selective predicate (~43 of 500 rows, spread over 8 cells)
    starves a 1-cell probe; the radius-bound escalation must terminate
    on the EXACT filtered top-k (the triangle-inequality stop rule:
    no unprobed cell can undercut the kth distance)."""
    qs = queries_fixture(spark, SF_SMALL, n=6)
    got = built_meta.knn(spark, qs, k=K, n_probe=1, where="label = 3")
    counts = {r.qid: r.n for r in got.groupBy("qid").agg(F.count("*").alias("n")).collect()}
    assert set(counts.values()) == {K}, counts
    exact = knn(
        load_table(spark, "embeddings", SF_SMALL).filter("label = 3"), qs, k=K
    )
    assert recall_at_k(exact, got, K) == 1.0
    assert {(r.qid, r.rnk, r.neighbor_id) for r in got.collect()} == {
        (r.qid, r.rnk, r.neighbor_id) for r in exact.collect()
    }
    # without escalation, at least one 1-probe query comes back short
    noesc = built_meta.knn(spark, qs, k=K, n_probe=1, where="label = 3", escalate=False)
    assert noesc.count() < got.count()


def test_filtered_append_carries_meta(spark, built_meta):
    emb = load_table(spark, "embeddings", SF_SMALL)
    extra = emb.select(
        (F.col("vec_id") + 50_000).alias("vec_id"), "embedding", "label"
    ).limit(20)
    built_meta.append(extra)
    new = built_meta.read(spark).filter(F.col("vec_id") >= 50_000)
    assert new.count() == 20
    assert new.filter(F.col("label").isNull()).count() == 0


# -- IVF-BQ (r6: the compression matrix's last cell) --------------------------


@pytest.fixture()
def built_bq(spark, tmp_path):
    store = IVFStore(str(tmp_path / "ivfbq"), n_cells=8)
    store.build(load_table(spark, "embeddings", SF_SMALL))
    store.build_bq(spark)
    return store


def test_ivfbq_full_probe_full_rerank_is_exact(spark, built_bq):
    """rerank·k >= corpus at full probe ==> exact kNN (the FAISS
    binary+refine identity the flat knn_bq pins, now cell-routed)."""
    qs = queries_fixture(spark, SF_SMALL, n=10)
    exact = knn(load_table(spark, "embeddings", SF_SMALL), qs, k=K)
    res = built_bq.knn_bq(spark, qs, k=K, n_probe=8, rerank=50)
    assert recall_at_k(exact, res, K) == 1.0
    top = {r.qid: r.neighbor_id for r in res.filter("rnk = 1").collect()}
    assert all(nid == qid for qid, nid in top.items())


def test_ivfbq_prunes_partitions_and_masks_cells(spark, built_bq):
    """Partition pruning reaches the codes scan, and at full rerank
    budget the result IS exact kNN restricted to each query's probed
    cells — the cell MASK is the guarantee, not a recall-vs-n_probe
    ordering: at a fixed shortlist budget more probed cells can
    displace L2-good candidates with Hamming-good-but-L2-bad ones
    (identity sign codes on this non-normalized corpus are the
    documented weak domain, BASELINE.md)."""
    import numpy as np

    qs = queries_fixture(spark, SF_SMALL, n=10)
    res = built_bq.knn_bq(spark, qs, k=K, n_probe=2, rerank=50)
    pf = scan_partition_filters(res)
    assert pf and any("cell_id" in f for f in pf), pf

    C = built_bq.centroids()
    rows = built_bq.read(spark).select("vec_id", "cell_id", "embedding").collect()
    cell_of = {r.vec_id: r.cell_id for r in rows}
    emb = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    got: dict = {}
    for r in res.collect():
        got.setdefault(r.qid, []).append((r.rnk, r.neighbor_id))
    for q in qs.collect():
        qv = np.array(q.qvec, dtype=np.float64)
        probe = set(np.argsort(((C - qv) ** 2).sum(axis=1))[:2].tolist())
        cand = sorted(
            (float(((emb[i] - qv) ** 2).sum()), i)
            for i in emb
            if cell_of[i] in probe
        )
        want = [i for _, i in cand[:K]]
        assert [nid for _, nid in sorted(got[q.qid])] == want


def test_ivfbq_append_delete_compact_stay_in_sync(spark, built_bq):
    import os

    import numpy as np

    vec = np.full(64, 3.0)
    extra = spark.createDataFrame(
        [(9001, vec.tolist())], schema="vec_id long, embedding array<float>"
    )
    built_bq.append(extra)  # append must encode into _bq/ inline
    q = spark.createDataFrame(
        [(1, vec.tolist())], schema="qid long, qvec array<double>"
    )
    res = built_bq.knn_bq(spark, q, k=1, n_probe=8, rerank=2).collect()
    assert res and res[0].neighbor_id == 9001
    built_bq.delete(spark, [9001])
    after = built_bq.knn_bq(spark, q, k=3, n_probe=8, rerank=2).collect()
    assert 9001 not in {r.neighbor_id for r in after}
    # compact folds the tombstone into the codes table and carries params
    qs = queries_fixture(spark, SF_SMALL, n=5)
    want = {(r.qid, r.neighbor_id, r.rnk)
            for r in built_bq.knn_bq(spark, qs, k=5, n_probe=8, rerank=4).collect()}
    built_bq.compact(spark)
    got = {(r.qid, r.neighbor_id, r.rnk)
           for r in built_bq.knn_bq(spark, qs, k=5, n_probe=8, rerank=4).collect()}
    assert got == want
    assert spark.read.parquet(built_bq._bq_path).filter("vec_id = 9001").count() == 0
    assert not os.path.exists(built_bq._tombstone_path)


def test_ivfbq_config_authoritative_and_normalized_domain(spark, tmp_path):
    """(n_bits, seed, normalize) persist; a default-arg rebuild keeps
    them; normalize=True flips the default rerank metric to cosine."""
    import json
    import os

    emb = load_table(spark, "embeddings", SF_SMALL)
    s = IVFStore(str(tmp_path / "nbq"), n_cells=8)
    s.build(emb)
    s.build_bq(spark, n_bits=128, seed=7, normalize=True)
    with open(s._bq_params_path) as f:
        side = json.load(f)
    assert side == {"dim": 64, "n_bits": 128, "seed": 7, "normalize": True,
                    "built_gen": 1}
    s.build_bq(spark)  # refresh with defaults must keep the config
    with open(s._bq_params_path) as f:
        assert json.load(f) == side

    qs = queries_fixture(spark, SF_SMALL, n=8)
    from distributedvectordatabase_spark.operators.knn import knn as exact_knn

    exact_cos = exact_knn(emb, qs, k=K, metric="cosine")
    got = s.knn_bq(spark, qs, k=K, n_probe=8, rerank=50)  # metric=None -> cosine
    assert recall_at_k(exact_cos, got, K) == 1.0
    # an unbuilt sidecar refuses
    bare = IVFStore(str(tmp_path / "bare"), n_cells=4)
    bare.build(emb.limit(100))
    with pytest.raises(ValueError, match="build_bq"):
        bare.knn_bq(spark, qs, k=3)


def test_compact_split_threshold_rebalances_streamed_skew(spark, tmp_path):
    """r7 (VERDICT r6 #5): appends assign to frozen centroids, so a
    drifting ingest re-skews cells after a balanced build;
    compact(split_threshold=) restores the bound in place — without a
    full rebuild, keeping snapshot history (_gen rides the rewrite),
    the exact full-probe invariant, and the SQ codes sidecar in sync."""
    import numpy as np

    rng = np.random.RandomState(3)
    dim = 16
    base = rng.standard_normal((1500, dim)) * 3.0
    seed_df = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(1500)],
        "vec_id long, embedding array<double>",
    )
    s = IVFStore(str(tmp_path / "s"), n_cells=8)
    s.build(seed_df, split_threshold=2.0)
    s.build_sq(spark)
    g1 = s.current_gen()

    # planted drift: a tight hot mode lands in ONE existing cell
    hot = rng.standard_normal((3000, dim)) * 0.05 + 4.0
    hot_df = spark.createDataFrame(
        [(10000 + i, hot[i].tolist()) for i in range(3000)],
        "vec_id long, embedding array<double>",
    )
    s.append(hot_df)
    n = s.read(spark).count()
    m0 = s.cell_metrics(spark).first()
    assert m0.max_count > 0.5 * n  # the append re-skewed the store

    cells_before = s.n_cells
    # drift the build never saw needs more split rounds than a
    # build-time rebalance: the hot mode isn't centered on any
    # existing centroid, so early rounds chase it
    s.compact(spark, split_threshold=2.0, max_split_rounds=6)
    m1 = s.cell_metrics(spark).first()
    assert s.n_cells > cells_before
    assert m1.max_count <= 2.0 * m1.avg_count + 1
    assert s.read(spark).count() == n

    # reopen adopts the enlarged layout; radii valid over it
    reopened = IVFStore(str(tmp_path / "s"))
    assert reopened.n_cells == s.n_cells
    C = reopened.centroids()
    radii = reopened.cell_radii()
    assert C.shape[0] == s.n_cells and len(radii) == s.n_cells
    for r in reopened.read(spark).select("embedding", "cell_id").limit(500).collect():
        d = float(np.linalg.norm(np.array(r.embedding) - C[r.cell_id]))
        assert d <= radii[r.cell_id] + 1e-6

    # full-probe == exact kNN still pinned post-rebalance
    all_df = seed_df.union(hot_df)
    qs = all_df.limit(4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    a = sorted(
        (r.qid, r.neighbor_id, r.rnk)
        for r in s.knn(spark, qs, k=5, n_probe=s.n_cells).collect()
    )
    e = sorted((r.qid, r.neighbor_id, r.rnk) for r in knn(all_df, qs, k=5).collect())
    assert a == e

    # SQ codes re-encoded onto the new cells: same ids, synced layout,
    # and full-probe SQ with rerank stays exact
    codes = s._sq_codes_live(spark)
    assert codes.count() == n
    sq = sorted(
        (r.qid, r.neighbor_id, r.rnk)
        for r in s.knn_sq(spark, qs, k=5, n_probe=s.n_cells).collect()
    )
    assert sq == e

    # snapshot history survived the rebalance: the pre-append gen
    # still reconstructs the seed corpus exactly
    snap_ids = {r.vec_id for r in s.read(spark, as_of_gen=g1).collect()}
    assert snap_ids == set(range(1500))


def test_delete_where_by_metadata(spark, tmp_path):
    """r7 (VectorStore parity): predicate take-downs over the
    co-located metadata — the policy-sweep shape. Tombstones only the
    matching LIVE rows; filtered and unfiltered search stop serving
    them; codes stay in sync; re-running the sweep deletes nothing."""
    emb = load_table(spark, "embeddings", SF_SMALL)
    store = IVFStore(str(tmp_path / "ivf"), n_cells=8, meta_cols=("label",))
    store.build(emb)
    store.build_sq(spark)

    total = emb.count()
    doomed = emb.filter("label = 2").count()
    assert doomed > 0
    n = store.delete_where(spark, "label = 2")
    assert n == doomed
    assert store.read(spark).count() == total - doomed
    assert store.read(spark).filter("label = 2").count() == 0

    q = emb.filter("label = 2").limit(2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    doomed_ids = {r.vec_id for r in emb.filter("label = 2").collect()}
    hits = {r.neighbor_id
            for r in store.knn(spark, q, k=5, n_probe=store.n_cells).collect()}
    assert not (hits & doomed_ids)
    sq_hits = {r.neighbor_id
               for r in store.knn_sq(spark, q, k=5, n_probe=store.n_cells).collect()}
    assert not (sq_hits & doomed_ids)

    # idempotent: the second sweep matches nothing live
    assert store.delete_where(spark, "label = 2") == 0


def test_compressed_searches_clamp_zero_probe(spark, tmp_path):
    """r7: n_probe=0 must probe one cell on every compressed path, not
    silently return empty (knn's escalate loop got the same clamp)."""
    emb = load_table(spark, "embeddings", SF_SMALL)
    s = IVFStore(str(tmp_path / "ivf"), n_cells=8)
    s.build(emb)
    s.build_sq(spark)
    s.build_pq(spark, m=8, nbits=4)
    s.build_bq(spark)
    q = queries_fixture(spark, SF_SMALL, n=2)
    for fn in (s.knn, s.knn_sq, s.knn_pq, s.knn_bq):
        assert fn(spark, q, k=3, n_probe=0).count() == 6, fn.__name__
