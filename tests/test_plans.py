"""Physical-plan shape tests — the scale guardrails.

Correctness tests can stay green while a plan regresses into a
100×-slower shape (full sort instead of top-k heap, shuffle join
instead of broadcast, full scan instead of pruned partitions). These
tests pin the shapes that make the engine viable at 100 TB.
"""

import re

import pyspark.sql.functions as F
import pytest

from distributedvectordatabase_spark.functions.lsh import SignLSH
from distributedvectordatabase_spark.operators.knn import knn, knn_pruned, knn_single
from distributedvectordatabase_spark.plans import (
    codegen_stage_count,
    has_broadcast,
    has_take_ordered,
    physical_plan,
    scan_partition_filters,
    scan_pushed_filters,
    scan_read_schema,
)
from distributedvectordatabase_spark.sources.tables import load_table, queries_fixture
from distributedvectordatabase_spark.sources.vector_store import VectorStore
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def corpus(spark):
    return load_table(spark, "embeddings", SF_SMALL)


@pytest.fixture(scope="module")
def qs(spark):
    return queries_fixture(spark, SF_SMALL, n=3)


def test_knn_single_is_take_ordered_not_full_sort(spark, corpus):
    df = knn_single(corpus, corpus.first().embedding, k=5)
    assert has_take_ordered(df)


def test_knn_scans_prune_columns(spark, corpus, qs):
    """Both kNN impls must read only (id, vector) — label and any other
    payload columns stay unread at the Parquet reader."""
    for impl in ("arrow", "expr"):
        schemas = scan_read_schema(knn(corpus, qs, k=5, impl=impl))
        assert schemas, "no parquet scan found"
        for s in schemas:
            assert "label" not in s, f"{impl}: label column not pruned: {s}"


def test_knn_expr_broadcasts_query_side(spark, corpus, qs):
    assert has_broadcast(knn(corpus, qs, k=5, impl="expr"))


def test_pruned_knn_has_partition_filters(spark, corpus, qs, tmp_path):
    store = VectorStore(str(tmp_path / "store"))
    store.write(corpus)
    # pruning via the isin predicate; queries ride an SparkContext
    # broadcast variable (not a join), so no BroadcastExchange
    df = store.knn(spark, qs, k=5)
    pf = scan_partition_filters(df)
    assert pf and any("shard_id" in f for f in pf), pf


def test_lsh_assign_runs_bucket_udf_once_under_shard_filter(spark, corpus, qs):
    """A shard filter over ``SignLSH.assign`` must not re-run the
    ``lsh_bucket`` pandas UDF: PushDownPredicates copies a deterministic
    UDF into the pushed filter, which planned a second ArrowEvalPython
    under ``knn_pruned``'s shard ``IN``."""
    lsh = SignLSH(dim=64)
    filtered = lsh.assign(corpus.limit(50)).filter(F.col("shard_id").isin([0, 1]))
    pruned = knn_pruned(lsh.assign(corpus), qs, lsh, k=5)
    for df in (filtered, pruned):
        assert len(re.findall(r"\n\(\d+\) ArrowEvalPython", physical_plan(df))) == 1


def test_ivf_exact_probe_still_prunes_by_cell(spark, corpus, qs, tmp_path):
    """The ann_ivf_exact_probe gate probes every cell (full probe ==
    exact), but the plan must still carry the cell_id partition filter
    — at n_probe < n_cells the same plan prunes directories, so the
    gate exercises the real pruned scan path, not a separate code
    path."""
    from distributedvectordatabase_spark.sources.ivf_store import IVFStore

    store = IVFStore(str(tmp_path / "ivf"), n_cells=4, seed=42)
    store.build(corpus)
    full = store.knn(spark, qs, k=3, n_probe=store.n_cells)
    pf = scan_partition_filters(full)
    assert pf and any("cell_id" in f for f in pf), pf
    partial = store.knn(spark, qs, k=3, n_probe=1)
    pf1 = scan_partition_filters(partial)
    assert pf1 and any("cell_id" in f for f in pf1), pf1


def test_filter_and_projection_reach_parquet_scan(spark):
    df = (
        load_table(spark, "documents", SF_SMALL)
        .filter(F.col("doc_id") < 100)
        .select("doc_id")
    )
    pushed = scan_pushed_filters(df)
    assert pushed and any("LessThan(doc_id,100)" in p for p in pushed), pushed
    schemas = scan_read_schema(df)
    assert schemas == ["doc_id:bigint"], schemas


def test_aggregation_has_map_side_combine(spark):
    """groupBy must plan partial (map-side) aggregation before the
    exchange — the shuffle then moves one row per (task, key), not one
    per input row. (Whole-stage codegen ids only appear in AQE's final
    plan, so the combine is the pre-execution guardrail.)"""
    from distributedvectordatabase_spark.plans import physical_plan

    df = (
        load_table(spark, "lineitem", SF_SMALL)
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("q"))
    )
    plan = physical_plan(df)
    assert "partial_sum" in plan, plan


def test_intersect_plans_as_broadcast_semi_join_with_pushdown(spark):
    """INTERSECT must become a left-semi join (broadcast at this size)
    with both date predicates pushed to the Parquet scans — not a
    materialize-both-sides set difference."""
    from distributedvectordatabase_spark.catalog import build_catalog
    from distributedvectordatabase_spark.plans import physical_plan

    df = build_catalog()["customer_set_ops"].run(spark, SF_SMALL)
    plan = physical_plan(df)
    assert "LeftSemi" in plan, plan
    assert has_broadcast(df)
    pushed = scan_pushed_filters(df)
    assert any("LessThan(o_orderdate" in p for p in pushed), pushed
    assert any("GreaterThanOrEqual(o_orderdate" in p for p in pushed), pushed


def test_pivot_is_single_pruned_scan(spark):
    """The explicit-value pivot must read lineitem exactly once, pruned
    to the four referenced columns — no second distinct-values scan."""
    from distributedvectordatabase_spark.catalog import build_catalog

    df = build_catalog()["returnflag_pivot_unpivot"].run(spark, SF_SMALL)
    schemas = scan_read_schema(df)
    assert len(schemas) == 1, schemas
    cols = {c.split(":")[0] for c in schemas[0].split(",")}
    assert cols == {"l_extendedprice", "l_discount", "l_returnflag", "l_linestatus"}, cols


def test_codegen_visible_after_execution(spark):
    """After an action, AQE's final plan exposes whole-stage codegen
    spans; the scan→partial-agg pipeline must be inside one."""
    df = (
        load_table(spark, "lineitem", SF_SMALL)
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("q"))
    )
    df.collect()
    assert codegen_stage_count(df) >= 1


def test_filtered_gate_pushes_label_isin(spark):
    """The knn_filtered gate's per-query constraint must reach the
    Parquet scan as an In(label, ...) pushed filter — constrained
    search reads fewer row groups, it never post-filters a full scan."""
    from distributedvectordatabase_spark.catalog import _run_knn_filtered

    res = _run_knn_filtered(spark, SF_SMALL)
    pushed = " ".join(scan_pushed_filters(res)).lower()
    assert "label" in pushed, pushed


def test_decontam_gate_broadcasts_and_single_scans_training_side(spark):
    """decontam_overlap: the benchmark shingle set broadcasts, and the
    training side's text column is scanned by exactly one Parquet scan
    (the left-join total-count form — a second text scan means the
    sibling-projection regression came back)."""
    from distributedvectordatabase_spark.catalog import _run_decontam
    from distributedvectordatabase_spark.plans import physical_plan

    res = _run_decontam(spark, SF_SMALL)
    assert has_broadcast(res)
    plan = physical_plan(res)
    text_scans = [
        s for s in scan_read_schema(res) if "text" in s
    ]
    # one scan feeds the benchmark side (broadcast), one the training
    # side — anything more re-reads the corpus
    assert len(text_scans) <= 2, (text_scans, plan[:500])


def test_bm25_plan_shape(spark):
    """BM25 must (a) finish with a top-k heap, not a global sort,
    (b) broadcast the tiny df/stats sides, and (c) push the text/doc_id
    projection into the parquet scan."""
    from distributedvectordatabase_spark.operators.search import bm25_topk

    docs = load_table(spark, "documents", SF_SMALL)
    df = bm25_topk(docs, ["vector", "query"], k=5)
    assert has_take_ordered(df)
    assert has_broadcast(df)
    for s in scan_read_schema(df):
        assert "lang" not in s and "source" not in s, f"payload not pruned: {s}"


def test_no_catalog_query_plans_a_cartesian_or_shuffled_join(spark):
    """Standing sweep over EVERY declared query at sf0.001: no
    CartesianProduct ever (the scale-killer), and at this size every
    join must resolve to a broadcast form (AQE + hints working) — a
    SortMergeJoin on kilobyte inputs means a hint or statistic
    regressed. BroadcastNestedLoopJoin is allowed only where a side is
    a one-row aggregate (bm25's corpus-stats crossJoin)."""
    from distributedvectordatabase_spark.catalog import build_catalog

    allowed_bnlj = {
        "doc_bm25_topk",
        "hybrid_rrf_topk",
        # one-row aggregate crossJoins, the legitimate BNLJ shape:
        # events_zorder_key broadcasts its min-max stats row,
        # doc_dsir_weights its n_docs count (the operator collects the
        # λ totals, so they enter the plan as literals), doc_tfidf_top3
        # its template's CROSS JOIN n
        "events_zorder_key",
        "doc_dsir_weights",
        "doc_tfidf_top3",
    }
    offenders = {}
    for name, q in build_catalog().items():
        plan = q.run(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
        bad = []
        if "CartesianProduct" in plan:
            bad.append("CartesianProduct")
        if "SortMergeJoin" in plan:
            bad.append("SortMergeJoin")
        if "BroadcastNestedLoopJoin" in plan and name not in allowed_bnlj:
            bad.append("BroadcastNestedLoopJoin")
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_bm25_batch_plan_broadcasts_and_no_smj(spark):
    """The batched BM25 must keep every join broadcast-shaped (vocab
    semi-filter, df/stats, query fan-out) — a sort-merge join here
    means the tiny query-side frames stopped broadcasting."""
    from distributedvectordatabase_spark.operators.search import bm25_topk_batch

    docs = load_table(spark, "documents", SF_SMALL)
    queries = spark.createDataFrame(
        [(0, ["vector", "query"]), (1, ["dup"])], "qid long, terms array<string>"
    )
    df = bm25_topk_batch(docs, queries, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert has_broadcast(df)


def test_commit_filters_push_down_and_keep_pruning(spark, tmp_path):
    """r7: the two-phase commit protocol adds literal scan predicates
    (gen ceiling + aborted-gen exclusion) under every store read — they
    must reach the parquet reader as pushed filters and must NOT
    disturb the shard/cell partition pruning that makes the stores
    scale."""
    import json
    import os

    from pyspark.sql import functions as F

    from distributedvectordatabase_spark.plans import (
        scan_partition_filters,
        scan_pushed_filters,
    )
    from distributedvectordatabase_spark.sources.ivf_store import IVFStore
    from distributedvectordatabase_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    store = IVFStore(str(tmp_path / "ivf"), n_cells=8)
    store.build(emb.filter(F.col("vec_id") < 300))
    store.append(emb.filter(F.col("vec_id") >= 300))
    # plant an aborted gen so BOTH commit predicates appear in the plan
    with open(os.path.join(str(tmp_path / "ivf"), "_centroids.json")) as f:
        side = json.load(f)
    side["aborted_gens"] = [99]
    with open(os.path.join(str(tmp_path / "ivf"), "_centroids.json"), "w") as f:
        json.dump(side, f)

    q = spark.createDataFrame(
        [(0, [float(x) for x in emb.first().embedding])],
        "qid long, qvec array<double>",
    )
    res = store.knn(spark, q, k=5, n_probe=2)
    pf = " | ".join(scan_pushed_filters(res))
    assert "_gen" in pf, pf  # ceiling + aborted list reached the scan
    parts = " | ".join(scan_partition_filters(res))
    assert "cell_id" in parts, parts  # pruning intact under the filter
