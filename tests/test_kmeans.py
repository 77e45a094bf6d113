"""operators/kmeans.py, the one trainer behind IVF cells, SemDeDup
clusters and PQ codebooks: a bounded md5-ordered sample, seeded numpy
Lloyd, and one nearest-centroid rule for every assignment."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributedvectordatabase_spark.operators.kmeans import (
    lloyd,
    nearest_cells,
    train_sample,
)
from distributedvectordatabase_spark.operators.pq import pq_train
from distributedvectordatabase_spark.operators.semdedup import fit_centroids
from distributedvectordatabase_spark.sources.ivf_store import IVFStore
from distributedvectordatabase_spark.sources.tables import load_table
from tests.conftest import SF_SMALL

SCHEMA = "vec_id long, embedding array<double>"


def _hex_digest(M) -> str:
    """sha256 over the ``float.hex`` of every value: a bit-level pin."""
    vals = np.asarray(M, dtype=np.float64).ravel()
    return hashlib.sha256(",".join(float.hex(float(v)) for v in vals).encode()).hexdigest()


def _frame(spark, X):
    return spark.createDataFrame([(i, X[i].tolist()) for i in range(len(X))], SCHEMA)


@pytest.fixture(scope="module")
def emb(spark):
    # not cached: a cached scan of this table would replace the parquet
    # scan (and its pushed filters) in later modules' plans
    return load_table(spark, "embeddings", SF_SMALL)


# pq_train codebooks on the 64-D sf0.001 embeddings, digested with the
# trainer as it was before the sampler and Lloyd moved into
# operators/kmeans.py: the move must not change a bit.
PQ_DIGESTS = {
    "default": "8b044eafb95c7f72126d20c2db99f0177820e4a96a2024eb6dd8ced73b29c524",
    "sample100": "5a40dcbacde869e2d0ae253e5d6ffbe1f1097f24771947c3d45745288c21c29a",
    "residual": "aa68e015e108f57b335854796a05113e36e3b6a9288c949c5c84e9dd61ca962a",
}


def test_pq_codebooks_bit_identical(spark, emb):
    got = {
        "default": pq_train(emb, m=8, nbits=4),
        # 500 rows > 1.5 x 100: the hash-threshold prefilter path
        "sample100": pq_train(emb, m=16, nbits=3, sample=100, seed=3),
        "residual": pq_train(
            emb.withColumn("cell_id", (F.col("vec_id") % 4).cast("int")),
            m=8, nbits=4, sample=300,
            cell_centroids=np.arange(4 * 64, dtype=np.float64).reshape(4, 64) / 100.0,
        ),
    }
    assert {k: _hex_digest(cb.centroids) for k, cb in got.items()} == PQ_DIGESTS


def test_nearest_cells_matches_brute_force():
    rng = np.random.RandomState(0)
    X = rng.standard_normal((300, 12))
    C = rng.standard_normal((7, 12))
    want = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    assert nearest_cells(X, C).tolist() == want.tolist()
    assert nearest_cells(np.zeros((0, 12)), C).shape == (0,)


def test_lloyd_seeded_and_degenerate_samples():
    rng = np.random.RandomState(1)
    X = np.vstack([rng.standard_normal((50, 4)) + 10.0, rng.standard_normal((50, 4)) - 10.0])
    a, b = lloyd(X, 2, seed=5), lloyd(X, 2, seed=5)
    assert _hex_digest(a) == _hex_digest(b)
    # two well-separated blobs: one centroid each
    assert sorted(np.sign(a[:, 0]).tolist()) == [-1.0, 1.0]
    # more clusters than rows still yields k centroids, all sample rows
    tiny = lloyd(X[:3], 5, seed=0)
    assert tiny.shape == (5, 4)
    assert all(any(np.array_equal(c, x) for x in X[:3]) for c in tiny)


def test_train_sample_bounded_md5_ordered(spark, emb):
    X, cols = train_sample(emb, sample=100, extra_cols=("vec_id",))
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    want = sorted(ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())[:100]
    assert cols["vec_id"].tolist() == want
    by_id = {r.vec_id: r.embedding for r in emb.collect()}
    np.testing.assert_array_equal(X, np.array([by_id[i] for i in want]))
    # float32 storage widens exactly; the sample is partition-independent
    f32 = emb.select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    X32, _ = train_sample(f32.repartition(7), sample=100)
    np.testing.assert_array_equal(
        X32, np.array([by_id[i] for i in want], dtype=np.float32).astype(np.float64)
    )


@pytest.mark.parametrize(
    "rows,match",
    [
        ([], "no rows"),
        ([(0, [1.0, 2.0]), (1, None)], "null"),
        ([(0, [1.0, 2.0]), (1, [1.0])], "ragged"),
        ([(0, [1.0, float("nan")]), (1, [1.0, 2.0])], "non-finite"),
        ([(0, [1.0, None]), (1, [1.0, 2.0])], "non-finite"),
    ],
)
def test_train_sample_rejects_hostile_rows(spark, rows, match):
    df = spark.createDataFrame(rows, SCHEMA)
    with pytest.raises(ValueError, match=match):
        train_sample(df)


def test_cells_partition_independent(spark, emb, tmp_path):
    """Centroids and every row's cell are the same bytes at 1 and 7
    input partitions: the sample is md5-ordered, the fit is seeded."""
    stores = {}
    for p, df in [(1, emb.coalesce(1)), (7, emb.repartition(7))]:
        s = IVFStore(str(tmp_path / f"p{p}"), n_cells=8)
        s.build(df)
        cells = sorted((r.vec_id, r.cell_id) for r in s.read(spark).collect())
        stores[p] = (_hex_digest(s.centroids()), cells)
    assert stores[1] == stores[7]
    assert len(stores[1][1]) == 500
    assert _hex_digest(fit_centroids(emb.coalesce(1), 8)) == _hex_digest(
        fit_centroids(emb.repartition(7), 8)
    )


def _assert_nearest(spark, store):
    rows = store.read(spark).select("vec_id", "embedding", "cell_id").collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    got = [r.cell_id for r in rows]
    assert got == nearest_cells(X, store.centroids()).tolist()


def test_every_live_row_sits_in_its_nearest_cell(spark, tmp_path):
    """build, build(split_threshold=), append and compact(split_threshold=)
    all assign with nearest_cells against the sidecar centroids."""
    rng = np.random.RandomState(1)
    dim = 8
    hot = rng.standard_normal((1600, dim)) * 0.05 + 5.0
    spread = rng.standard_normal((400, dim)) * 3.0
    df = _frame(spark, np.vstack([hot, spread]))

    plain = IVFStore(str(tmp_path / "plain"), n_cells=8)
    plain.build(df)
    _assert_nearest(spark, plain)

    split = IVFStore(str(tmp_path / "split"), n_cells=8)
    split.build(df, split_threshold=2.0)
    assert split.n_cells > 8  # the split path ran
    _assert_nearest(spark, split)

    drift = rng.standard_normal((600, dim)) * 0.05 - 4.0
    split.append(
        spark.createDataFrame(
            [(10_000 + i, drift[i].tolist()) for i in range(len(drift))], SCHEMA
        )
    )
    _assert_nearest(spark, split)

    before = split.n_cells
    split.compact(spark, split_threshold=2.0)
    assert split.n_cells > before
    _assert_nearest(spark, split)
