"""Uniform store-contract matrix (r6, VERDICT r5 #8): every persistent
store (VectorStore, IVFStore, TextIndex, SigStore) must honor the same
lifecycle contracts, asserted through ONE parametrized sweep so any new
store joins the matrix by adding an adapter:

- **reopen**: a store reopened with default constructor arguments must
  adopt the persisted sidecar config (the r4 TextIndex bug class — a
  mismatched default must never silently mis-bucket/mis-prune);
- **append**: incremental ingest must be observationally equal to a
  fresh build over the union, under each store's canonical query (for
  IVFStore the canonical query is the FULL probe, the documented
  invariant — append assigns to existing centroids by contract, so
  partial-probe results may legitimately differ from a refit);
- **delete + compact**: tombstoned rows vanish from the canonical
  query, compact() folds them physically (tombstone dir gone, results
  unchanged), and delete-then-append of the same ids is a well-defined
  upsert.

Store-SPECIFIC pins (bit-exact scores, plan shapes, sink-era guards,
codes-sidecar sync) stay in their own modules — this matrix asserts
the shared lifecycle only.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from distributedvectordatabase_spark.functions.lsh import SignLSH
from distributedvectordatabase_spark.sources.ivf_store import IVFStore
from distributedvectordatabase_spark.sources.sig_store import SigStore
from distributedvectordatabase_spark.sources.tables import load_table, queries_fixture
from distributedvectordatabase_spark.sources.text_index import TextIndex
from distributedvectordatabase_spark.sources.tokenizer_store import TokenizerStore
from distributedvectordatabase_spark.sources.vector_store import VectorStore
from tests.conftest import SF_SMALL


class _VS:
    name = "vector_store"

    def corpus(self, spark):
        return load_table(spark, "embeddings", SF_SMALL)

    def split_col(self):
        return "vec_id"

    def build(self, spark, path, df):
        s = VectorStore(path, SignLSH(dim=64, num_tables=5, seed=99))
        s.write(df)
        return s

    def append(self, spark, store, df):
        store.append(df)

    def reopen(self, path):
        return VectorStore(path)  # defaults: sidecar must win

    def canon(self, spark, store):
        q = queries_fixture(spark, SF_SMALL, n=3)
        return sorted(
            (r.qid, r.neighbor_id, r.rnk)
            for r in store.knn(spark, q, k=5, pruned=False).collect()
        )

    def ids_of(self, rows):
        return sorted({nid for _, nid, _ in rows})

    def delete(self, spark, store, ids):
        store.delete(spark, ids)

    def compact(self, spark, store):
        store.compact(spark)

    def tombstone_path(self, store):
        return store._tombstone_path


class _IVF:
    name = "ivf_store"

    def corpus(self, spark):
        return load_table(spark, "embeddings", SF_SMALL)

    def split_col(self):
        return "vec_id"

    def build(self, spark, path, df):
        s = IVFStore(path, n_cells=5, seed=7)
        s.build(df)
        return s

    def append(self, spark, store, df):
        store.append(df)

    def reopen(self, path):
        return IVFStore(path)  # defaults: centroid sidecar must win

    def canon(self, spark, store):
        # FULL probe == exact kNN: the assignment-independent invariant
        q = queries_fixture(spark, SF_SMALL, n=3)
        return sorted(
            (r.qid, r.neighbor_id, r.rnk)
            for r in store.knn(spark, q, k=5, n_probe=store.n_cells).collect()
        )

    def ids_of(self, rows):
        return sorted({nid for _, nid, _ in rows})

    def delete(self, spark, store, ids):
        store.delete(spark, ids)

    def compact(self, spark, store):
        store.compact(spark)

    def tombstone_path(self, store):
        return store._tombstone_path


class _TIX:
    name = "text_index"
    TERMS = ["dup", "vector", "query"]

    def corpus(self, spark):
        return load_table(spark, "documents", SF_SMALL)

    def split_col(self):
        return "doc_id"

    def build(self, spark, path, df):
        s = TextIndex(path, n_buckets=7)
        s.build(df)
        return s

    def append(self, spark, store, df):
        store.append(df)

    def reopen(self, path):
        return TextIndex(path)  # default n_buckets=32: stats must win

    def canon(self, spark, store):
        return [
            (r.doc_id, r.score, r.rnk)
            for r in store.bm25(spark, self.TERMS, k=10).collect()
        ]

    def ids_of(self, rows):
        return sorted({d for d, _, _ in rows})

    def delete(self, spark, store, ids):
        store.delete(spark, ids)

    def compact(self, spark, store):
        store.compact(spark)

    def tombstone_path(self, store):
        return store._tombstone_path


class _SIG:
    name = "sig_store"

    def corpus(self, spark):
        # the corpus side only; the batch side is the canonical query
        return load_table(spark, "documents", SF_SMALL).filter(
            F.col("doc_id") % 5 != 0
        )

    def split_col(self):
        return "doc_id"

    def build(self, spark, path, df):
        s = SigStore(path, bands=4, rows=3, shingle_n=3, n_buckets=11)
        s.build(df)
        return s

    def append(self, spark, store, df):
        store.append(df)

    def reopen(self, path):
        return SigStore(path)  # defaults differ: config must win

    def canon(self, spark, store):
        batch = load_table(spark, "documents", SF_SMALL).filter(
            F.col("doc_id") % 5 == 0
        )
        return sorted(
            (r.new_id, r.corpus_id, r.jaccard)
            for r in store.join_batch(batch, threshold=0.7).collect()
        )

    def ids_of(self, rows):
        return sorted({cid for _, cid, _ in rows})

    def delete(self, spark, store, ids):
        store.delete(spark, ids)

    def compact(self, spark, store):
        store.compact(spark)

    def tombstone_path(self, store):
        return store._tombstone_path


class _TOK:
    """TokenizerStore (r7): canon is the live corpus registration plus
    the learned merges — append/delete must leave BOTH exactly equal
    to a fresh train over the corresponding corpus (BPE is a pure
    function of the persisted word-frequency statistic, so the
    equality is exact, not approximate). Merge rows ride canon with
    doc_id -1-ord so ids_of (deletable doc ids) can filter them out."""

    name = "tokenizer_store"

    def corpus(self, spark):
        return load_table(spark, "documents", SF_SMALL).limit(160)

    def split_col(self):
        return "doc_id"

    def build(self, spark, path, df):
        s = TokenizerStore(path, n_merges=6)
        s.train(df)
        return s

    def append(self, spark, store, df):
        store.append(df)

    def reopen(self, path):
        return TokenizerStore(path)  # default n_merges=50: config must win

    def canon(self, spark, store):
        reg = sorted(
            (int(r.doc_id), int(r.n_words))
            for r in store.registered_docs(spark).collect()
        )
        mg = [
            (-1 - i, hash((a, b, c)))
            for i, (a, b, c) in enumerate(store.merges(spark))
        ]
        return reg + mg

    def ids_of(self, rows):
        return sorted({d for d, _ in rows if d >= 0})

    def delete(self, spark, store, ids):
        store.delete(spark, ids)

    def compact(self, spark, store):
        store.compact(spark)

    def tombstone_path(self, store):
        return store._tombstone_path


class _VS_SQF:
    """Filtered-compressed serving row (r9, VERDICT r8 #2): the
    canonical query is the SQ8 leg with a metadata filter at FULL
    budget (unpruned scan, shortlist >= matching count), which equals
    exact filtered kNN — bounds-independent, so append==fresh-build
    holds even though the two fits train different SQ bounds. The
    lifecycle sweep thereby covers the codes sidecar's append sync,
    tombstone filtering, compact carry, and upsert under a filter."""

    name = "vector_store_sq_filtered"
    WHERE = "vec_id % 4 = 1"

    def corpus(self, spark):
        return load_table(spark, "embeddings", SF_SMALL)

    def split_col(self):
        return "vec_id"

    def build(self, spark, path, df):
        s = VectorStore(path, SignLSH(dim=64, num_tables=5, seed=99))
        s.write(df)
        s.build_sq(spark)
        return s

    def append(self, spark, store, df):
        store.append(df)  # SQ codes sync inline

    def reopen(self, path):
        return VectorStore(path)

    def canon(self, spark, store):
        q = queries_fixture(spark, SF_SMALL, n=3)
        return sorted(
            (r.qid, r.neighbor_id, r.rnk)
            for r in store.knn_sq(
                spark, q, k=5, rerank=10, pruned=False, where=self.WHERE
            ).collect()
        )

    def ids_of(self, rows):
        return sorted({nid for _, nid, _ in rows})

    def delete(self, spark, store, ids):
        store.delete(spark, ids)

    def compact(self, spark, store):
        store.compact(spark)

    def tombstone_path(self, store):
        return store._tombstone_path


class _IVF_SQF:
    """IVF twin of _VS_SQF: metadata co-located via build(meta_cols=),
    canonical query = full-probe filtered SQ8 at full rerank budget
    (== exact filtered kNN, assignment- and bounds-independent)."""

    name = "ivf_store_sq_filtered"
    WHERE = "label = 3"

    def corpus(self, spark):
        return load_table(spark, "embeddings", SF_SMALL)

    def split_col(self):
        return "vec_id"

    def build(self, spark, path, df):
        s = IVFStore(path, n_cells=5, seed=7, meta_cols=("label",))
        s.build(df)
        s.build_sq(spark)
        return s

    def append(self, spark, store, df):
        store.append(df)  # codes sync inline (pure function of params)

    def reopen(self, path):
        return IVFStore(path)

    def canon(self, spark, store):
        q = queries_fixture(spark, SF_SMALL, n=3)
        return sorted(
            (r.qid, r.neighbor_id, r.rnk)
            for r in store.knn_sq(
                spark, q, k=5, n_probe=store.n_cells, rerank=10,
                where=self.WHERE,
            ).collect()
        )

    def ids_of(self, rows):
        return sorted({nid for _, nid, _ in rows})

    def delete(self, spark, store, ids):
        store.delete(spark, ids)

    def compact(self, spark, store):
        store.compact(spark)

    def tombstone_path(self, store):
        return store._tombstone_path


ADAPTERS = [_VS(), _IVF(), _TIX(), _SIG(), _TOK(), _VS_SQF(), _IVF_SQF()]


@pytest.fixture(params=ADAPTERS, ids=[a.name for a in ADAPTERS])
def adapter(request):
    return request.param


def test_reopen_with_defaults_adopts_sidecar(spark, tmp_path, adapter):
    df = adapter.corpus(spark)
    store = adapter.build(spark, str(tmp_path / "s"), df)
    want = adapter.canon(spark, store)
    assert want, adapter.name
    reopened = adapter.reopen(str(tmp_path / "s"))
    assert adapter.canon(spark, reopened) == want


def test_append_equals_fresh_build(spark, tmp_path, adapter):
    df = adapter.corpus(spark)
    c = adapter.split_col()
    lo, hi = df.filter(F.col(c) % 2 == 0), df.filter(F.col(c) % 2 == 1)
    inc = adapter.build(spark, str(tmp_path / "inc"), lo)
    adapter.append(spark, inc, hi)
    full = adapter.build(spark, str(tmp_path / "full"), df)
    # IVF centroids differ between the two fits; compare through the
    # assignment-independent canonical query (full probe / full scan)
    if adapter.name == "ivf_store":
        q = queries_fixture(spark, SF_SMALL, n=3)
        a = sorted(
            (r.qid, r.neighbor_id, r.rnk)
            for r in inc.knn(spark, q, k=5, n_probe=inc.n_cells).collect()
        )
        b = sorted(
            (r.qid, r.neighbor_id, r.rnk)
            for r in full.knn(spark, q, k=5, n_probe=full.n_cells).collect()
        )
        assert a == b
    else:
        assert adapter.canon(spark, inc) == adapter.canon(spark, full)


def test_delete_compact_upsert_lifecycle(spark, tmp_path, adapter):
    df = adapter.corpus(spark)
    store = adapter.build(spark, str(tmp_path / "s"), df)
    before = adapter.canon(spark, store)
    victims = adapter.ids_of(before)[:2]
    assert victims

    adapter.delete(spark, store, victims)
    after = adapter.canon(spark, store)
    assert not set(adapter.ids_of(after)) & set(victims)

    adapter.compact(spark, store)
    assert not os.path.exists(adapter.tombstone_path(store))
    assert adapter.canon(spark, store) == after

    # delete-then-append the victims back: a well-defined upsert (for
    # IVF the append routes to existing centroids, but the full-probe
    # canonical query is assignment-independent, so equality holds)
    c = adapter.split_col()
    adapter.append(spark, store, df.filter(F.col(c).isin(victims)))
    assert adapter.canon(spark, store) == before


LIFECYCLE = [_VS(), _IVF(), _TIX(), _SIG(), _TOK()]


@pytest.mark.parametrize("adapter", LIFECYCLE, ids=[a.name for a in LIFECYCLE])
def test_delete_over_crashed_append_then_compact(spark, tmp_path, adapter):
    """A delete issued over a crashed append (sidecar rewound to the
    pre-commit form: old gen plus the ``pending_gen`` intent) heals the
    intent into the aborted list BEFORE bumping the horizon, so the
    orphans stay invisible; compact drops them physically, clears the
    list and keeps the streaming marker where the store has one."""
    import json

    df = adapter.corpus(spark)
    c = adapter.split_col()
    lo, hi = df.filter(F.col(c) % 2 == 0), df.filter(F.col(c) % 2 == 1)
    store = adapter.build(spark, str(tmp_path / "s"), lo)
    want = adapter.canon(spark, store)
    with open(store._sidecar_path) as f:
        side = json.load(f)
    adapter.append(spark, store, hi)
    pending = store.current_gen()
    side["pending_gen"] = pending
    streamed = hasattr(store, "ingest_batch")
    if streamed:
        side["ingest_batch"] = 7  # an earlier committed streaming batch
    with open(store._sidecar_path, "w") as f:
        json.dump(side, f)

    victims = adapter.ids_of(want)[:1]
    adapter.delete(spark, store, victims)
    with open(store._sidecar_path) as f:
        side = json.load(f)
    assert side["aborted_gens"] == [pending] and side["pending_gen"] is None
    assert side["gen"] == pending + 1
    hidden = set(victims) | {r[0] for r in hi.select(c).collect()}
    after = adapter.canon(spark, store)
    assert not set(adapter.ids_of(after)) & hidden

    adapter.compact(spark, store)
    with open(store._sidecar_path) as f:
        side = json.load(f)
    assert side["aborted_gens"] == [] and side["pending_gen"] is None
    if streamed:
        assert store.ingest_batch() == 7
    assert adapter.canon(spark, store) == after


@pytest.mark.parametrize("adapter", LIFECYCLE, ids=[a.name for a in LIFECYCLE])
def test_rebuild_over_deleted_ids_starts_fresh_history(spark, tmp_path, adapter):
    """A whole-store rebuild over an existing path starts a fresh
    history: ids deleted before the rebuild are live again after it.
    The rebuilt rows restart at gen 1, so tombstones left behind would
    keep hiding them (build, delete 2, rebuild the same corpus → the
    canonical query must equal the first build's)."""
    df = adapter.corpus(spark)
    path = str(tmp_path / "s")
    store = adapter.build(spark, path, df)
    before = adapter.canon(spark, store)
    victims = adapter.ids_of(before)[:2]
    assert victims
    adapter.delete(spark, store, victims)
    assert not set(adapter.ids_of(adapter.canon(spark, store))) & set(victims)

    rebuilt = adapter.build(spark, path, df)
    assert adapter.canon(spark, rebuilt) == before
    assert not os.path.exists(adapter.tombstone_path(rebuilt))
