"""Binary quantization (operators/bq.py): exact sign-bit pack, integer
Hamming identities, plan shape (no join nodes, partial-before-final
top-k), full-rerank equality with exact kNN, and monotone recall in
the rerank budget."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributedvectordatabase_spark.operators.bq import (
    BITS_PER_WORD,
    bq_encode,
    bq_knn,
    bq_topk,
    n_words,
)
from distributedvectordatabase_spark.operators.knn import knn, recall_at_k
from distributedvectordatabase_spark.sources.tables import load_table, queries_fixture
from tests.conftest import SF_DIR

DIM = 64


@pytest.fixture(scope="module")
def corpus(spark):
    # unpersist at module teardown: a lingering cached plan shadows the
    # parquet scan for later modules' pushdown/plan assertions
    df = load_table(spark, "embeddings", SF_DIR).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def queries(spark):
    return queries_fixture(spark, SF_DIR, n=8)


def _np_pack(v: np.ndarray) -> list[int]:
    out = []
    for w in range(n_words(len(v))):
        x = 0
        for j in range(BITS_PER_WORD):
            i = w * BITS_PER_WORD + j
            if i < len(v) and v[i] > 0:
                x |= 1 << j
        out.append(x)
    return out


def test_encode_matches_numpy_reference(corpus):
    rows = corpus.orderBy("vec_id").limit(20).collect()
    enc = bq_encode(corpus, DIM).orderBy("vec_id").limit(20).collect()
    for r, e in zip(rows, enc):
        assert list(e.bq_code) == _np_pack(np.array(r.embedding)), r.vec_id


def test_encode_512d_matches_spark_sign_semantics(spark):
    """At 512-D, with -0.0, NaN and null components and a null vector,
    the pack equals Spark's own ``element_at(v, i) > 0`` per bit: NaN
    sets its bit (Spark orders NaN above every number), -0.0 and null
    leave it clear, a null vector packs to zeros."""
    dim = 512
    rng = np.random.default_rng(5)
    rows = []
    for i in range(40):
        v = rng.standard_normal(dim).tolist()
        for j, val in zip(rng.choice(dim, 9, replace=False), [-0.0, float("nan"), None] * 3):
            v[int(j)] = val
        rows.append((i, v))
    rows.append((40, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ref = F.array(*[
        F.expr(
            f"aggregate(sequence(0, {BITS_PER_WORD - 1}), 0L, (acc, j) -> acc | "
            f"CASE WHEN coalesce(element_at(embedding, {w * BITS_PER_WORD} + j + 1) > 0, "
            "false) THEN shiftleft(1L, j) ELSE 0L END)"
        )
        for w in range(n_words(dim))
    ])
    got = bq_encode(df, dim).select("vec_id", "bq_code", ref.alias("ref")).collect()
    assert len(got) == 41
    for r in got:
        assert list(r.bq_code) == list(r.ref), r.vec_id


def test_encode_word_width_avoids_sign_bit(corpus):
    """32-bit words: every packed word fits in [0, 2^32) so the DuckDB
    oracle's checked ``<<`` arithmetic is reproducible."""
    mx = (
        bq_encode(corpus, DIM)
        .select(F.explode("bq_code").alias("w"))
        .agg(F.max("w"), F.min("w"))
        .first()
    )
    assert 0 <= mx[1] and mx[0] < 2**32


def test_self_query_is_rank1_at_hamming_zero(spark, corpus, queries):
    codes = bq_encode(corpus, DIM)
    qcodes = bq_encode(queries, DIM, "qvec", out_col="qcode")
    top = bq_topk(
        codes.select("vec_id", "bq_code"), qcodes.select("qid", "qcode"), k=5
    )
    r1 = {r.qid: (r.neighbor_id, r.hamming) for r in top.collect() if r.rnk == 1}
    assert r1 == {q: (q, 0) for q in r1}


def test_topk_plan_has_no_join_and_partial_topk(spark, corpus, queries):
    """The scoring stage must be a literal fan-out over ONE corpus scan
    (no join operator of any kind) with the partial window before the
    final qid exchange."""
    codes = bq_encode(corpus, DIM)
    qcodes = bq_encode(queries, DIM, "qvec", out_col="qcode")
    top = bq_topk(
        codes.select("vec_id", "bq_code"), qcodes.select("qid", "qcode"), k=5
    )
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("Window") >= 2  # partial (qid, _part) then final (qid)


def test_full_rerank_budget_equals_exact_knn(spark, corpus, queries):
    n = corpus.count()
    approx = bq_knn(corpus, queries, dim=DIM, k=5, rerank=(n // 5) + 1)
    exact = knn(corpus, queries, k=5, metric="l2sq")
    a = sorted((r.qid, r.neighbor_id, r.rnk) for r in approx.collect())
    e = sorted((r.qid, r.neighbor_id, r.rnk) for r in exact.collect())
    assert a == e


def test_recall_monotone_in_rerank_and_floor(spark, corpus, queries):
    """More rerank budget can only help (the shortlist grows by
    construction); pin a conservative floor at rerank=8 on the iid
    gaussian testdata — sign-bit Hamming is an ANGULAR proxy scoring
    an L2 ground truth here, the honest worst case."""
    exact = knn(corpus, queries, k=10, metric="l2sq")
    r2 = recall_at_k(exact, bq_knn(corpus, queries, dim=DIM, k=10, rerank=2), 10)
    r8 = recall_at_k(exact, bq_knn(corpus, queries, dim=DIM, k=10, rerank=8), 10)
    assert r8 >= r2
    assert r8 >= 0.60, r8


def test_partitioning_independence(spark, corpus, queries):
    codes = bq_encode(corpus, DIM).select("vec_id", "bq_code")
    qcodes = bq_encode(queries, DIM, "qvec", out_col="qcode").select("qid", "qcode")
    a = bq_topk(codes, qcodes, k=7).collect()
    b = bq_topk(codes.repartition(13), qcodes, k=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# -- VectorStore binary sidecar ---------------------------------------------

from distributedvectordatabase_spark.functions.lsh import SignLSH
from distributedvectordatabase_spark.plans import scan_partition_filters
from distributedvectordatabase_spark.sources.vector_store import VectorStore


@pytest.fixture()
def bq_store(spark, tmp_path, corpus):
    vs = VectorStore(str(tmp_path / "emb"), SignLSH(dim=64))
    vs.write(corpus)
    vs.build_bq(spark)
    return vs


def test_store_knn_bq_full_budget_equals_exact(spark, bq_store, corpus):
    q = queries_fixture(spark, SF_DIR, n=6)
    n = corpus.count()
    exact = knn(corpus, q, k=5, metric="l2sq")
    res = bq_store.knn_bq(spark, q, k=5, pruned=False, rerank=(n // 5) + 1)
    a = sorted((r.qid, r.neighbor_id, r.rnk) for r in res.collect())
    e = sorted((r.qid, r.neighbor_id, r.rnk) for r in exact.collect())
    assert a == e


def test_store_knn_bq_prunes_partitions_and_tracks_raw_pruned(spark, bq_store):
    q = queries_fixture(spark, SF_DIR, n=5)
    res = bq_store.knn_bq(spark, q, k=5, pruned=True, num_candidates=2, rerank=8)
    pf = scan_partition_filters(res)
    assert pf and any("shard_id" in f for f in pf), pf
    # generous rerank over the same probed shards should recover most
    # of the pruned raw path's slate (Hamming shortlist is approximate)
    raw = bq_store.knn(spark, q, k=5, pruned=True, num_candidates=2)
    assert recall_at_k(raw, res, 5) >= 0.80


def test_store_knn_bq_stale_after_append_then_rebuild(spark, bq_store):
    vec = np.full(64, 2.5)
    extra = spark.createDataFrame(
        [(9001, vec.tolist())], schema="vec_id long, embedding array<float>"
    )
    bq_store.append(extra)
    q = spark.createDataFrame(
        [(1, vec.tolist())], schema="qid long, qvec array<double>"
    )
    with pytest.raises(ValueError, match="stale"):
        bq_store.knn_bq(spark, q, k=1)
    bq_store.build_bq(spark)  # one projection scan regenerates
    res = bq_store.knn_bq(spark, q, k=1, pruned=False, rerank=2).collect()
    assert res and res[0].neighbor_id == 9001


def test_store_delete_excludes_from_bq_search(spark, bq_store):
    q = queries_fixture(spark, SF_DIR, n=3)
    before = bq_store.knn_bq(spark, q, k=1, pruned=False).collect()
    victim = before[0].neighbor_id
    bq_store.delete(spark, [int(victim)])
    after = bq_store.knn_bq(spark, q, k=5, pruned=False, rerank=4).collect()
    assert victim not in {r.neighbor_id for r in after}


def test_store_compact_carries_bq_sidecar_and_folds_tombstones(spark, bq_store):
    import os

    q = queries_fixture(spark, SF_DIR, n=5)
    bq_store.delete(spark, [0])
    want = {(r.qid, r.neighbor_id, r.rnk)
            for r in bq_store.knn_bq(spark, q, k=5, pruned=False).collect()}
    bq_store.compact(spark)
    assert os.path.exists(bq_store._bq_params_path)
    got = {(r.qid, r.neighbor_id, r.rnk)
           for r in bq_store.knn_bq(spark, q, k=5, pruned=False).collect()}
    assert got == want
    raw_codes = spark.read.parquet(bq_store._bq_path)
    assert raw_codes.filter("vec_id = 0").count() == 0


# -- sign-random-projection (super-bit) path --------------------------------


def test_projection_codes_lift_recall_over_identity(spark, corpus, queries):
    """B=256 projections must beat the identity 64-bit pack on the same
    shortlist budget — the whole point of decoupling code length from
    dim (identity Hamming has only dim+1 levels)."""
    exact = knn(corpus, queries, k=10, metric="l2sq")
    r_id = recall_at_k(exact, bq_knn(corpus, queries, dim=DIM, k=10, rerank=4), 10)
    r_256 = recall_at_k(
        exact, bq_knn(corpus, queries, dim=DIM, k=10, rerank=4, n_bits=256), 10
    )
    assert r_256 >= r_id, (r_256, r_id)
    assert r_256 >= 0.70, r_256


def test_projection_codes_deterministic_across_layouts_and_sessions(
    spark, corpus, queries
):
    """Seeded default_rng streams are platform-stable, so the same
    (n_bits, seed) gives byte-identical codes regardless of
    partitioning; a different seed gives different codes."""
    a = sorted(
        map(tuple, bq_knn(corpus, queries, dim=DIM, k=5, rerank=2, n_bits=128).collect())
    )
    b = sorted(
        map(
            tuple,
            bq_knn(
                corpus.repartition(11), queries, dim=DIM, k=5, rerank=2, n_bits=128
            ).collect(),
        )
    )
    assert a == b
    c1 = bq_encode(corpus.limit(5), DIM, n_bits=128, seed=1).collect()
    c2 = bq_encode(corpus.limit(5), DIM, n_bits=128, seed=2).collect()
    assert [r.bq_code for r in c1] != [r.bq_code for r in c2]


def test_projection_nbits_must_be_word_aligned(corpus):
    with pytest.raises(ValueError, match="multiple"):
        bq_encode(corpus, DIM, n_bits=100)


def test_store_bq_persisted_nbits_is_authoritative(spark, tmp_path, corpus):
    """build_bq(n_bits=128) → append → rebuild with DEFAULT args must
    keep 128-bit codes (a default rebuild may not silently switch the
    encoding), and knn_bq must encode queries from the persisted
    config."""
    import json, os

    vs = VectorStore(str(tmp_path / "emb"), SignLSH(dim=64))
    vs.write(corpus)
    vs.build_bq(spark, n_bits=128)
    vec = np.full(64, 2.5)
    vs.append(
        spark.createDataFrame(
            [(9001, vec.tolist())], schema="vec_id long, embedding array<float>"
        )
    )
    vs.build_bq(spark)  # post-append refresh, default args
    with open(vs._bq_params_path) as f:
        side = json.load(f)
    assert side["n_bits"] == 128 and side["seed"] == 42
    q = spark.createDataFrame(
        [(1, vec.tolist())], schema="qid long, qvec array<double>"
    )
    res = vs.knn_bq(spark, q, k=1, pruned=False, rerank=2).collect()
    assert res and res[0].neighbor_id == 9001


# -- normalized-domain (cosine) BQ (r6) --------------------------------------


def test_full_rerank_budget_equals_exact_knn_cosine(spark, corpus, queries):
    """metric='cosine': at full rerank budget the binary path equals
    exact cosine kNN — the honest metric pairing (the Hamming
    shortlist is angular by construction)."""
    n = corpus.count()
    approx = bq_knn(
        corpus, queries, dim=DIM, k=5, rerank=(n // 5) + 1, metric="cosine"
    )
    exact = knn(corpus, queries, k=5, metric="cosine")
    a = sorted((r.qid, r.neighbor_id, r.rnk) for r in approx.collect())
    e = sorted((r.qid, r.neighbor_id, r.rnk) for r in exact.collect())
    assert a == e


def test_cosine_metric_beats_l2_on_angular_truth(spark, corpus, queries):
    """Scoring a COSINE ground truth, the cosine rerank at modest
    budget must beat the L2 rerank at the same budget — the measured
    reason normalize=True exists."""
    exact_cos = knn(corpus, queries, k=10, metric="cosine")
    r_cos = recall_at_k(
        exact_cos, bq_knn(corpus, queries, dim=DIM, k=10, rerank=8,
                          n_bits=256, metric="cosine"), 10,
    )
    r_l2 = recall_at_k(
        exact_cos, bq_knn(corpus, queries, dim=DIM, k=10, rerank=8,
                          n_bits=256, metric="l2sq"), 10,
    )
    assert r_cos >= r_l2
    assert r_cos >= 0.9, r_cos


def test_store_normalize_flag_defaults_cosine_and_survives_rebuild(
    spark, tmp_path, corpus
):
    """build_bq(normalize=True) persists the domain flag; knn_bq with
    metric=None then reranks by cosine (equal to exact cosine kNN at
    full budget), and a default-args rebuild keeps the flag."""
    import json

    vs = VectorStore(str(tmp_path / "emb"), SignLSH(dim=64))
    vs.write(corpus)
    vs.build_bq(spark, n_bits=256, normalize=True)
    q = queries_fixture(spark, SF_DIR, n=4)
    n = corpus.count()
    got = sorted(
        (r.qid, r.neighbor_id, r.rnk)
        for r in vs.knn_bq(
            spark, q, k=5, pruned=False, rerank=(n // 5) + 1
        ).collect()
    )
    want = sorted(
        (r.qid, r.neighbor_id, r.rnk)
        for r in knn(corpus, q, k=5, metric="cosine").collect()
    )
    assert got == want
    vs.build_bq(spark)  # default-args refresh keeps the domain
    with open(vs._bq_params_path) as f:
        side = json.load(f)
    assert side["normalize"] is True and side["n_bits"] == 256
    # explicit override still wins per call
    l2 = sorted(
        (r.qid, r.neighbor_id, r.rnk)
        for r in vs.knn_bq(
            spark, q, k=5, pruned=False, rerank=(n // 5) + 1, metric="l2sq"
        ).collect()
    )
    want_l2 = sorted(
        (r.qid, r.neighbor_id, r.rnk)
        for r in knn(corpus, q, k=5, metric="l2sq").collect()
    )
    assert l2 == want_l2
