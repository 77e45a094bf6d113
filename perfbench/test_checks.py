"""Each output check must pass a right answer and fail one corrupted
answer. Needs numpy only, no Spark:

    python3 -m pytest perfbench/test_checks.py -q
    python3 perfbench/test_checks.py
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, gen  # noqa: E402


def _corpus():
    src = gen.VectorSource(seed=5)
    X = src.rows(2000)
    ids = np.arange(2000, dtype=np.int64)
    q = src.queries(src.rows(50), 1)[0]
    return X, ids, q


def test_topk_rejects_swapped_neighbour():
    X, ids, q = _corpus()
    ref_ids, ref_d = checks.brute_topk(X, ids, q, 10)
    assert checks.check_topk(ref_ids, ref_d, ref_ids, ref_d) is None
    swapped = list(ref_ids)
    swapped[2], swapped[3] = swapped[3], swapped[2]
    assert checks.check_topk(swapped, ref_d, ref_ids, ref_d) is not None


def test_topk_rejects_wrong_distance():
    X, ids, q = _corpus()
    ref_ids, ref_d = checks.brute_topk(X, ids, q, 10)
    off = list(ref_d)
    off[0] *= 1 + 1e-4
    assert checks.check_topk(ref_ids, off, ref_ids, ref_d) is not None


def test_rank1_rejects_missing_appended_id():
    X, ids, q = _corpus()
    got, _ = checks.brute_topk(X, ids, X[7].astype(np.float64), 10)
    assert checks.check_rank1(got, 7) is None
    assert checks.check_rank1([i for i in got if i != 7], 7) is not None


def test_rejects_resurrected_deleted_id():
    deleted = {11, 12}
    assert checks.check_not_deleted([1, 2, 3], deleted) is None
    assert checks.check_not_deleted([1, 12, 3], deleted) is not None
    live = {1, 2, 3}
    assert checks.check_live_set([3, 2, 1], live) is None
    assert checks.check_live_set([3, 2, 1, 12], live) is not None


def test_removed_rejects_one_extra_removed_document():
    docs = gen.documents(seed=5, n_docs=300)
    all_ids = [r[0] for r in docs.rows]
    kept = [i for i in all_ids if i not in docs.planted_removed]
    assert checks.check_removed(all_ids, kept, docs.planted_removed) is None
    assert checks.check_removed(all_ids, kept[1:], docs.planted_removed) is not None


def test_trim_rejects_untrimmed_boilerplate():
    docs = gen.documents(seed=5, n_docs=300)
    bodies = docs.boilerplate_bodies
    assert checks.check_trimmed(dict(bodies), bodies) is None
    untrimmed = {r[0]: r[2] for r in docs.rows if r[0] in bodies}
    assert checks.check_trimmed(untrimmed, bodies) is not None


def test_generators_are_seeded():
    a, b = gen.VectorSource(3).rows(5), gen.VectorSource(3).rows(5)
    assert np.array_equal(a, b)
    assert gen.documents(3, 200).rows == gen.documents(3, 200).rows


def test_planted_near_duplicates_clear_the_threshold():
    docs = gen.documents(seed=9, n_docs=400)
    text = {r[0]: r[2].split() for r in docs.rows}

    def shingles(t):
        return {tuple(t[i:i + 3]) for i in range(len(t) - 2)}

    by_text = {}
    for i, t in text.items():
        by_text.setdefault(tuple(t[1:-1]), []).append(i)
    pairs = [g for g in by_text.values() if len(g) == 2]
    assert len(pairs) == len(docs.planted_removed)
    for a, b in pairs:
        sa, sb = shingles(text[a]), shingles(text[b])
        assert len(sa & sb) / len(sa | sb) >= 0.9


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        t()
    print(f"{len(tests)} checker tests passed")
