"""DSIR importance weighting (operators/dsir.py) and its gate.

Pins: (1) the DataFrame scale path (which the doc_dsir_weights gate
runs) reproduces the gate's SQL template, run by DuckDB, bit-for-bit
on real testdata, (2) planted target-like documents outscore
off-target ones and dsir_select picks them, (3) the scoring join
broadcasts the λ table and selection compiles to TakeOrderedAndProject
(no global sort), (4) an empty target slice still runs (pure
smoothing)."""

from __future__ import annotations

import pytest

from distributedvectordatabase_spark.operators.dsir import (
    dsir_select,
    dsir_weights,
    fit_logratios,
    hashed_feature_counts,
    importance_weights,
)
from distributedvectordatabase_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_matches_gate_bitwise(spark, oracle):
    """weight_micro and n_feats from the DataFrame path == the
    hash-gated SQL template run by DuckDB, for every document (exact
    integers, no tolerance). The registered gate runs this operator,
    so the template is the independent side."""
    from distributedvectordatabase_spark.catalog import build_catalog

    docs = load_table(spark, "documents", SF_DIR)
    target = docs.filter("lang = 'en'").select("doc_id")
    got = {
        r.doc_id: (r.weight_micro, r.n_feats)
        for r in dsir_weights(docs, target).collect()
    }
    sql = build_catalog()["doc_dsir_weights"].oracle
    want = {
        int(d): (int(w), int(n))
        for d, w, n in oracle.sql(
            f"SELECT doc_id, weight_micro, n_feats FROM ({sql})"
        ).fetchall()
    }
    assert got == want


def _planted(spark):
    # target vocabulary: "the quick brown fox ..." — candidates either
    # share it (on-target) or use a disjoint vocabulary (off-target)
    tgt_text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, tgt_text, "tgt") for i in range(10)]
    rows += [(100, "the quick brown fox likes the lazy dog", "cand")]
    rows += [(101, "zzz qqq www vvv kkk jjj xxx yyy uuu ppp", "cand")]
    return spark.createDataFrame(rows, "doc_id long, text string, role string")


def test_target_like_doc_outscores_and_is_selected(spark):
    docs = _planted(spark)
    target = docs.filter("role = 'tgt'").select("doc_id")
    w = dsir_weights(docs, target)
    got = {r.doc_id: r.weight for r in w.collect()}
    assert got[100] > got[101], got
    picked = {r.doc_id for r in dsir_select(w.filter("doc_id >= 100"), k=1).collect()}
    assert picked == {100}


def test_plan_broadcasts_lambda_and_topk_has_no_global_sort(spark):
    docs = _planted(spark)
    counts = hashed_feature_counts(docs)
    lam = fit_logratios(counts, docs.filter("role = 'tgt'").select("doc_id"))
    w = importance_weights(counts, lam)
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # λ side is broadcast, not shuffled
    sel_plan = dsir_select(w, 3)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in sel_plan


def test_empty_target_slice_runs(spark):
    docs = _planted(spark)
    empty = docs.filter("doc_id < 0").select("doc_id")
    w = dsir_weights(docs, empty)
    rows = w.collect()
    assert len(rows) == docs.count()
    # with no target evidence every λ_b = ln((1·rtot)/((rc+1)·B)) —
    # finite; weights exist for every doc
    assert all(r.weight_micro is not None for r in rows)


def test_weights_layout_independent(spark):
    """Repartitioning the corpus must not move weight_micro by a bit
    (integer dot products; the λ fit collects exact totals)."""
    docs = _planted(spark)
    target = docs.filter("role = 'tgt'").select("doc_id")
    a = {r.doc_id: r.weight_micro for r in dsir_weights(docs, target).collect()}
    b = {
        r.doc_id: r.weight_micro
        for r in dsir_weights(docs.repartition(7, "doc_id"), target).collect()
    }
    assert a == b
