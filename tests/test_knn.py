"""Exact kNN correctness vs the DuckDB oracle + reference-semantics
invariants (self-query distance 0, k clamping, tie determinism)."""

import pytest
from pyspark.sql import functions as F

from distributedvectordatabase_spark.functions.vector import duckdb_cosine_dist, duckdb_l2sq
from distributedvectordatabase_spark.operators.knn import knn, knn_single
from distributedvectordatabase_spark.sources.tables import load_table, queries_fixture
from tests.conftest import SF_DIR, assert_matches_oracle


def _oracle_knn_sql(metric_sql: str, n_queries: int, k: int) -> str:
    return f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qvec
      FROM embeddings ORDER BY vec_id LIMIT {n_queries}
    ),
    scored AS (
      SELECT q.qid, e.vec_id AS neighbor_id, {metric_sql} AS dist
      FROM q CROSS JOIN embeddings e
    ),
    ranked AS (
      SELECT qid, neighbor_id, dist,
             row_number() OVER (PARTITION BY qid ORDER BY dist, neighbor_id) AS rnk
      FROM scored
    )
    SELECT qid, neighbor_id, round(dist, 6) AS dist, rnk
    FROM ranked WHERE rnk <= {k}
    """


@pytest.mark.parametrize("impl", ["expr", "arrow"])
@pytest.mark.parametrize("metric,metric_sql", [
    ("l2sq", duckdb_l2sq("qvec", "e.embedding")),
    ("cosine", duckdb_cosine_dist("qvec", "e.embedding")),
])
def test_knn_matches_oracle(spark, oracle, impl, metric, metric_sql):
    corpus = load_table(spark, "embeddings", SF_DIR)
    queries = queries_fixture(spark, SF_DIR, n=10)
    res = knn(corpus, queries, k=5, metric=metric, impl=impl).withColumn(
        "dist", F.round("dist", 6)
    )
    assert_matches_oracle(res, oracle, _oracle_knn_sql(metric_sql, 10, 5))


def test_self_query_distance_zero(spark):
    corpus = load_table(spark, "embeddings", SF_DIR)
    queries = queries_fixture(spark, SF_DIR, n=10)
    top1 = knn(corpus, queries, k=1, metric="l2sq").collect()
    assert len(top1) == 10
    for r in top1:
        assert r.neighbor_id == r.qid, "self-query must return itself first"
        assert abs(r.dist) < 1e-9


def test_k_clamped_to_corpus_size(spark):
    corpus = load_table(spark, "embeddings", SF_DIR).limit(3)
    queries = queries_fixture(spark, SF_DIR, n=2)
    res = knn(corpus, queries, k=100, metric="l2sq")
    counts = {r.qid: r.cnt for r in res.groupBy("qid").agg(F.count("*").alias("cnt")).collect()}
    assert all(v == 3 for v in counts.values())


def test_knn_single_topk_plan_and_result(spark, oracle):
    corpus = load_table(spark, "embeddings", SF_DIR)
    qvec = corpus.orderBy("vec_id").first().embedding
    res = knn_single(corpus, qvec, k=5, metric="l2sq")
    # plan: must be TakeOrderedAndProject (per-partition heap, no global sort)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = res.collect()
    assert rows[0].neighbor_id == 0 and abs(rows[0].dist) < 1e-9
    assert [r.neighbor_id for r in rows] == [
        r[0]
        for r in oracle.sql(
            f"""SELECT e.vec_id FROM embeddings e
               CROSS JOIN (SELECT embedding qv FROM embeddings WHERE vec_id=0) q
               ORDER BY {duckdb_l2sq('q.qv', 'e.embedding')}, e.vec_id LIMIT 5"""
        ).fetchall()
    ]


def test_large_query_batch_matches_oracle(spark, oracle):
    """200-query batch (10× the catalog fixture): the per-batch partial
    top-k and the tie slack must hold at larger fan-in, both impls."""
    corpus = load_table(spark, "embeddings", SF_DIR)
    queries = queries_fixture(spark, SF_DIR, n=200)
    want = oracle.sql(
        f"""
        WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings ORDER BY vec_id LIMIT 200),
        ranked AS (
          SELECT q.qid, e.vec_id nid,
                 row_number() OVER (PARTITION BY q.qid
                     ORDER BY {duckdb_l2sq('q.qv', 'e.embedding')}, e.vec_id) rnk
          FROM q CROSS JOIN embeddings e
        )
        SELECT qid, nid, rnk FROM ranked WHERE rnk <= 5
        """
    ).fetchall()
    want_set = {(r[0], r[1], r[2]) for r in want}
    for impl in ("arrow", "expr"):
        got = knn(corpus, queries, k=5, metric="l2sq", impl=impl)
        got_set = {(r.qid, r.neighbor_id, r.rnk) for r in got.collect()}
        assert got_set == want_set, f"{impl}: {len(got_set ^ want_set)} mismatches"


def test_partition_count_determinism(spark, tmp_path, monkeypatch):
    """The in-task sequential re-score makes kNN output independent of
    partition count and Arrow batch split: identical canonical rows
    (full-precision dist) whether the scanned rows arrive as 1, 7 or
    default partitions — exact kNN in both metrics, the LSH-pruned
    search and the IVF store's probed search."""
    from distributedvectordatabase_spark.functions.lsh import SignLSH
    from distributedvectordatabase_spark.operators.knn import knn_pruned
    from distributedvectordatabase_spark.sources.ivf_store import IVFStore

    corpus = load_table(spark, "embeddings", SF_DIR)
    queries = queries_fixture(spark, SF_DIR, n=20)
    lsh = SignLSH()
    bucketed = lsh.assign(corpus)
    ivf = IVFStore(str(tmp_path / "ivf"), n_cells=8)
    ivf.build(corpus)
    ivf_read = ivf.read

    def canon(df):
        return sorted(
            (r.qid, r.neighbor_id, r.rnk, repr(r.dist)) for r in df.collect()
        )

    def searches(nparts):
        def split(df):
            return df if nparts is None else df.repartition(nparts)

        monkeypatch.setattr(
            ivf, "read", lambda spark, as_of_gen=None: split(ivf_read(spark, as_of_gen))
        )
        out = {}
        for metric in ("l2sq", "cosine"):
            out["knn", metric] = canon(knn(split(corpus), queries, k=10, metric=metric))
            out["knn_pruned", metric] = canon(
                knn_pruned(split(bucketed), queries, lsh, k=10, metric=metric)
            )
            out["ivf", metric] = canon(
                ivf.knn(spark, queries, k=10, n_probe=2, metric=metric)
            )
        return out

    base = searches(None)
    for nparts in (1, 7):
        got = searches(nparts)
        for key, want in base.items():
            assert got[key] == want, f"{key} differs at repartition({nparts})"


def test_large_magnitude_boundary_ties_deterministic(spark):
    """Adversarial case for the slate guard: many exact-duplicate
    candidates tied AT the 2k slate boundary, at l2sq magnitude ~1e9
    where BLAS-vs-sequential float64 divergence (~1e-16 relative, so
    ~1e-7 absolute) dwarfs the old absolute eps=1e-9 — the relative
    epsilon must still admit every tied candidate, keeping the arrow
    output equal to the expr impl and invariant to partitioning."""
    import numpy as np

    dim = 16
    scale = 2_000.0  # dists ~ dim * scale^2 ~ 6e7..1e9
    rng = np.random.default_rng(99)
    base = (rng.standard_normal(dim) * scale).astype(np.float32)
    far = (rng.standard_normal(dim) * scale).astype(np.float32)
    rows = [(0, [float(x) for x in base])]
    # 5 near-distinct neighbors, then 40 identical 'far' duplicates that
    # all tie exactly at and beyond the k..2k slate boundary
    for i in range(1, 6):
        rows.append((i, [float(x) for x in base + rng.standard_normal(dim).astype(np.float32)]))
    for i in range(6, 46):
        rows.append((i, [float(x) for x in far]))
    corpus = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(0, rows[0][1])], schema="qid long, qvec array<float>"
    )

    def canon(df):
        return sorted((r.qid, r.neighbor_id, r.rnk, repr(r.dist)) for r in df.collect())

    want = canon(knn(corpus, queries, k=10, metric="l2sq", impl="expr"))
    for nparts in (1, 5):
        got = canon(knn(corpus.repartition(nparts), queries, k=10, metric="l2sq"))
        assert got == want, f"arrow != expr at repartition({nparts})"


def test_query_batch_collect_guard(spark, monkeypatch):
    """The driver-side query collect is capped: an over-size query set
    raises instead of OOMing the driver (the join-based path is the
    documented fallback)."""
    # operators/__init__ re-exports the knn *function* under the same
    # name, so fetch the module object itself for the monkeypatch
    import importlib

    knnmod = importlib.import_module("distributedvectordatabase_spark.operators.knn")

    corpus = load_table(spark, "embeddings", SF_DIR)
    queries = queries_fixture(spark, SF_DIR, n=20)
    monkeypatch.setattr(knnmod, "MAX_QUERY_BATCH", 5)
    with pytest.raises(ValueError, match="MAX_QUERY_BATCH"):
        knn(corpus, queries, k=3)


def test_filtered_knn_global_predicate_pushdown(spark):
    """filtered_knn's global predicate must reach the Parquet scan as a
    pushed filter (filtered search reads less, never post-filters), and
    results must equal kNN over the pre-filtered corpus."""
    from distributedvectordatabase_spark.operators.knn import filtered_knn
    from distributedvectordatabase_spark.plans.inspect import scan_pushed_filters

    corpus = load_table(spark, "embeddings", SF_DIR)
    queries = queries_fixture(spark, SF_DIR, n=5)
    res = filtered_knn(corpus, queries, k=5, predicate="label = 3")
    pushed = " ".join(scan_pushed_filters(res))
    assert "label" in pushed, f"label predicate not pushed: {pushed!r}"

    def canon(df):
        return sorted(
            (r.qid, r.neighbor_id, r.rnk, repr(r.dist)) for r in df.collect()
        )

    want = knn(corpus.filter(F.col("label") == 3), queries, k=5)
    assert canon(res) == canon(want)


@pytest.mark.parametrize("impl", ["expr", "arrow"])
def test_filtered_knn_per_query_constraint(spark, impl):
    """Per-query label constraint: every neighbor shares its query's
    label, and the result equals per-label brute-force search (both
    impls, byte-identical dist)."""
    from distributedvectordatabase_spark.operators.knn import filtered_knn

    corpus = load_table(spark, "embeddings", SF_DIR)
    queries = (
        corpus.orderBy("vec_id")
        .limit(8)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qvec"),
            F.col("label").alias("qlabel"),
        )
    )
    res = filtered_knn(
        corpus, queries, k=5, filter_col="label", qfilter_col="qlabel", impl=impl
    )
    rows = res.collect()
    labels = {r.vec_id: r.label for r in corpus.select("vec_id", "label").collect()}
    assert len(rows) == 8 * 5
    for r in rows:
        assert labels[r.neighbor_id] == labels[r.qid], r

    # brute reference: filter first, search second, one query at a time
    def canon(df):
        return sorted(
            (r.qid, r.neighbor_id, r.rnk, repr(r.dist)) for r in df.collect()
        )

    want = []
    for q in queries.collect():
        sub = corpus.filter(F.col("label") == q.qlabel)
        one = knn(
            sub,
            spark.createDataFrame(
                [(q.qid, list(q.qvec))], schema="qid long, qvec array<float>"
            ),
            k=5,
        )
        want.extend(canon(one))
    assert canon(res) == sorted(want)


def test_filtered_knn_absent_constraint_value(spark):
    """A query constrained to a value no corpus row has yields no rows
    for that query (and doesn't disturb the others); k larger than the
    allowed group clamps to the group size."""
    from distributedvectordatabase_spark.operators.knn import filtered_knn

    corpus = load_table(spark, "embeddings", SF_DIR)
    first = corpus.orderBy("vec_id").limit(2).collect()
    queries = spark.createDataFrame(
        [
            (first[0].vec_id, list(first[0].embedding), int(first[0].label)),
            (9999, list(first[1].embedding), 424242),  # label that doesn't exist
        ],
        "qid long, qvec array<float>, qlabel int",
    )
    rows = filtered_knn(
        corpus, queries, k=5, filter_col="label", qfilter_col="qlabel"
    ).collect()
    assert {r.qid for r in rows} == {first[0].vec_id}
    assert len(rows) == 5

    # k > group size: every group member returned, nothing more
    group_n = corpus.filter(F.col("label") == first[0].label).count()
    all_rows = filtered_knn(
        corpus,
        queries.filter(F.col("qid") == first[0].vec_id),
        k=group_n + 100,
        filter_col="label",
        qfilter_col="qlabel",
    ).collect()
    assert len(all_rows) == group_n


def test_filtered_knn_negative_and_null_constraints(spark):
    """Regression: raw negative filter values used to wrap around the
    dense Arrow mask (a qlabel=-1 query silently got another label's
    neighbors); values are now dictionary-encoded. NULL constraints
    match nothing; both impls agree."""
    from distributedvectordatabase_spark.operators.knn import filtered_knn

    rows = [
        (i, [float(i), float(i % 7)], -1 if i % 2 == 0 else 5)
        for i in range(40)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    queries = spark.createDataFrame(
        [
            (0, [0.0, 0.0], -1),
            (1, [1.0, 1.0], 5),
            (2, [2.0, 2.0], None),
            (3, [3.0, 3.0], 424242),  # absent value
        ],
        "qid long, qvec array<float>, qlabel int",
    )
    labels = {r[0]: r[2] for r in rows}

    def canon(df):
        return sorted(
            (r.qid, r.neighbor_id, r.rnk, repr(r.dist)) for r in df.collect()
        )

    arrow = filtered_knn(
        corpus, queries, k=3, filter_col="label", qfilter_col="qlabel", impl="arrow"
    )
    expr = filtered_knn(
        corpus, queries, k=3, filter_col="label", qfilter_col="qlabel", impl="expr"
    )
    a = canon(arrow)
    assert a == canon(expr)
    got = arrow.collect()
    assert {r.qid for r in got} == {0, 1}  # NULL + absent yield nothing
    for r in got:
        want = -1 if r.qid == 0 else 5
        assert labels[r.neighbor_id] == want, r



def test_filtered_knn_string_constraint_values(spark):
    """Dictionary encoding makes non-integral constraint types work on
    the arrow path too."""
    from distributedvectordatabase_spark.operators.knn import filtered_knn

    corpus = spark.createDataFrame(
        [(i, [float(i)], "en" if i % 2 else "de") for i in range(20)],
        "vec_id long, embedding array<float>, lang string",
    )
    queries = spark.createDataFrame(
        [(0, [0.0], "de"), (1, [1.0], "en")],
        "qid long, qvec array<float>, qlang string",
    )
    res = filtered_knn(
        corpus, queries, k=4, filter_col="lang", qfilter_col="qlang"
    ).collect()
    langs = {i: ("en" if i % 2 else "de") for i in range(20)}
    assert len(res) == 8
    for r in res:
        assert langs[r.neighbor_id] == ("de" if r.qid == 0 else "en")


def test_local_query_relation_round_trips_exactly(spark):
    """The Arrow-built LocalRelation the compressed legs' rerank uses as
    its q side must reproduce every double bit-for-bit: the float64
    matrix crosses to the JVM as one Arrow buffer, with no decimal text
    in between."""
    import math
    import struct

    import numpy as np

    from distributedvectordatabase_spark.operators.knn import (
        local_query_relation,
        query_matrix,
    )

    def bits(xs):
        return [struct.pack(">d", x) for x in xs]

    vals = [
        0.1, -0.1, 1e-308, 1.7976931348623157e308, 123456.789e-30,
        -0.0, 2.0 ** -1074, 1 / 3, math.pi, 6.02214076e23,
    ]
    rows = [{"qid": 7, "qvec": vals}]
    out = local_query_relation(
        spark, query_matrix(rows, "qid", "qvec"), "qid", "qvec"
    ).collect()
    assert len(out) == 1 and out[0]["qid"] == 7
    assert bits(out[0]["qvec"]) == bits(vals)

    # a full 32 x 512 batch: random magnitudes across the double range,
    # salted with -0.0, subnormals and 1/3
    rng = np.random.default_rng(2)
    Q = rng.standard_normal((32, 512)) * 10.0 ** rng.integers(-300, 300, (32, 512))
    Q[0, :4] = [-0.0, 2.0 ** -1074, 2.0 ** -1030, 1 / 3]
    Q[31, -3:] = [1 / 3, -(2.0 ** -1060), -0.0]
    rows = [{"qid": 100 + i, "qvec": Q[i].tolist()} for i in range(32)]
    got = {
        r["qid"]: r["qvec"]
        for r in local_query_relation(
            spark, query_matrix(rows, "qid", "qvec"), "qid", "qvec"
        ).collect()
    }
    assert sorted(got) == [100 + i for i in range(32)]
    for i in range(32):
        assert bits(got[100 + i]) == bits(Q[i].tolist()), f"row {i}"


def test_local_query_relation_empty(spark):
    from distributedvectordatabase_spark.operators.knn import (
        local_query_relation,
        query_matrix,
    )

    df = local_query_relation(spark, query_matrix([], "qid", "qvec"), "qid", "qvec")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["qid", "qvec"]


def test_empty_query_batch_returns_no_rows(spark):
    corpus = load_table(spark, "embeddings", SF_DIR)
    queries = spark.createDataFrame([], "qid long, qvec array<float>")
    assert knn(corpus, queries, k=3).collect() == []


@pytest.fixture(scope="module")
def rescore_paths(spark, tmp_path_factory):
    """Every search entry point built on the shared core — the raw
    Arrow paths and the compressed SQ/PQ/BQ store legs — over one 64-D
    corpus, as ``name -> search(queries) -> DataFrame``."""
    from distributedvectordatabase_spark.functions.lsh import SignLSH
    from distributedvectordatabase_spark.operators.knn import filtered_knn, knn_pruned
    from distributedvectordatabase_spark.sources.ivf_store import IVFStore
    from distributedvectordatabase_spark.sources.vector_store import VectorStore
    from tests.conftest import SF_SMALL

    corpus = load_table(spark, "embeddings", SF_SMALL)
    root = tmp_path_factory.mktemp("rescore_paths")
    vs = VectorStore(str(root / "vs"), SignLSH(dim=64))
    vs.write(corpus)
    vs.build_sq(spark)
    vs.build_bq(spark)
    ivf = IVFStore(str(root / "ivf"), n_cells=8)
    ivf.build(corpus)
    ivf.build_sq(spark)
    ivf.build_pq(spark, m=8, nbits=4)
    ivf.build_bq(spark)
    lsh = SignLSH(dim=vs.lsh.dim)
    return {
        "knn": lambda q: knn(corpus, q, k=3, dim=64),
        "knn_pruned": lambda q: knn_pruned(lsh.assign(corpus), q, lsh, k=3),
        "filtered_knn": lambda q: filtered_knn(
            corpus, q, k=3, filter_col="label", dim=64
        ),
        "vector_store_pruned": lambda q: vs.knn(spark, q, k=3, pruned=True),
        "vector_store_exact": lambda q: vs.knn(spark, q, k=3, pruned=False),
        "ivf_store": lambda q: ivf.knn(spark, q, k=3, n_probe=2),
        "vector_store_sq": lambda q: vs.knn_sq(spark, q, k=3, rerank=2),
        "vector_store_bq": lambda q: vs.knn_bq(spark, q, k=3),
        "ivf_sq": lambda q: ivf.knn_sq(spark, q, k=3, n_probe=2),
        "ivf_pq": lambda q: ivf.knn_pq(spark, q, k=3, n_probe=2),
        "ivf_bq": lambda q: ivf.knn_bq(spark, q, k=3, n_probe=2),
    }


def test_knn_rescore_side_is_local_relation(spark, rescore_paths):
    """A raw-vector search is one corpus scan and one merge: its plan
    has exactly one ``Scan parquet``, no LocalTableScan and no
    BroadcastExchange — the slate is re-scored inside the scan task,
    so there is no q relation, no joinback and no second scan. The
    filtered search adds only its constraint dictionary, a broadcast
    Arrow-built LocalRelation (never an RDD-backed one, which would
    cost a Spark job). The compressed legs rerank their shortlist
    against the Arrow-built q side: a LocalTableScan and one scan per
    store table, the codes plus the raw vectors."""
    from tests.conftest import SF_SMALL

    # queries_fixture's rows plus the label filtered_knn constrains on
    queries = load_table(spark, "embeddings", SF_SMALL).orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"), "label"
    )

    def plan(path):
        return rescore_paths[path](queries)._jdf.queryExecution().executedPlan().toString()

    for path in ("knn", "knn_pruned", "vector_store_pruned", "vector_store_exact", "ivf_store"):
        p = plan(path)
        assert p.count("Scan parquet") == 1, path
        assert "LocalTableScan" not in p and "BroadcastExchange" not in p, path

    p = plan("filtered_knn")
    assert p.count("Scan parquet") == 1 and p.count("BroadcastExchange") == 1
    assert "LocalTableScan" in p
    assert "LogicalRDD" not in p and "Scan ExistingRDD" not in p

    for path in ("vector_store_sq", "vector_store_bq", "ivf_sq", "ivf_pq", "ivf_bq"):
        p = plan(path)
        assert "LocalTableScan" in p, path
        assert "LogicalRDD" not in p and "Scan ExistingRDD" not in p, path
        assert p.count("Scan parquet") == 2, path


def test_empty_query_batch_plans_no_scan(spark, rescore_paths):
    """An empty query batch returns no rows on every raw-vector path,
    and its plan reads no corpus file."""
    import pyarrow as pa

    queries = spark.createDataFrame(pa.table({
        "qid": pa.array([], pa.int64()),
        "qvec": pa.array([], pa.list_(pa.float64())),
        "label": pa.array([], pa.int32()),
    }))
    for path in ("knn", "knn_pruned", "filtered_knn", "vector_store_pruned",
                 "vector_store_exact", "ivf_store"):
        df = rescore_paths[path](queries)
        assert df.collect() == [], path
        assert "Scan parquet" not in df._jdf.queryExecution().executedPlan().toString(), path


def test_compressed_legs_collect_queries_once(spark, rescore_paths, monkeypatch):
    """A compressed leg collects the query vectors once per call: the
    batch its candidate source routed (LSH shards, IVF cells) is the
    batch its scan and rerank use, not a second collect for the
    shortlist."""
    import importlib
    import sys

    from tests.conftest import SF_SMALL

    knnmod = importlib.import_module("distributedvectordatabase_spark.operators.knn")
    orig = knnmod.collect_query_batch
    calls = []

    def counting(*args, **kwargs):
        calls.append(args[1:3])
        return orig(*args, **kwargs)

    for name, mod in list(sys.modules.items()):
        if name.startswith("distributedvectordatabase_spark") and mod is not None:
            if getattr(mod, "collect_query_batch", None) is orig:
                monkeypatch.setattr(mod, "collect_query_batch", counting)
    queries = queries_fixture(spark, SF_SMALL, n=3)
    for path in ("vector_store_sq", "ivf_sq", "ivf_pq"):
        calls.clear()
        assert rescore_paths[path](queries).count() == 9, path
        assert calls == [("qid", "qvec")], (path, calls)


def _bad_queries(spark, case):
    good = [0.5] * 64
    if case == "nan":
        vecs = [good, good[:10] + [float("nan")] + good[11:]]
    elif case == "inf":
        vecs = [good, good[:-1] + [float("inf")]]
    elif case == "-inf":
        vecs = [good, [float("-inf")] + good[1:]]
    elif case == "ragged":
        vecs = [good, good[:63]]
    else:  # wrong dimension: a consistent batch of another width
        vecs = [[0.5] * 32, [0.5] * 32]
    # built from Arrow, a LocalRelation: collecting it runs no Spark job,
    # which keeps these 50 cases cheap
    import pyarrow as pa

    return spark.createDataFrame(pa.table({
        "qid": pa.array([40, 41], pa.int64()),
        "qvec": pa.array(vecs, pa.list_(pa.float64())),
        "label": pa.array([1, 1], pa.int32()),
    }))


@pytest.mark.parametrize("case,match", [
    ("nan", "qid=41 has a non-finite"),
    ("inf", "qid=41 has a non-finite"),
    ("-inf", "qid=41 has a non-finite"),
    ("ragged", "qid=41 has dimension 63"),
    ("wrong_dim", "qid=40 has dimension 32"),
])
@pytest.mark.parametrize("path", [
    "knn", "knn_pruned", "filtered_knn", "vector_store_exact", "ivf_store",
    "vector_store_sq", "vector_store_bq", "ivf_sq", "ivf_pq", "ivf_bq",
])
def test_bad_query_vectors_raise_value_error(spark, rescore_paths, path, case, match):
    """Non-finite, ragged and wrong-dimension queries fail fast with a
    typed error naming the first bad qid — before any corpus scan is
    planned, not as a parse or executor failure."""
    with pytest.raises(ValueError, match=match):
        rescore_paths[path](_bad_queries(spark, case))


def test_ragged_batch_without_dim_names_both_qids(spark):
    corpus = load_table(spark, "embeddings", SF_DIR)
    queries = spark.createDataFrame(
        [(1, [0.0] * 64), (2, [0.0] * 64), (3, [0.0] * 8)],
        "qid long, qvec array<float>",
    )
    with pytest.raises(ValueError, match="qid=3 has dimension 8, but qid=1 has 64"):
        knn(corpus, queries, k=3)
