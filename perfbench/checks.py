"""Output checks. Each returns None when the answer is right and a short
message when it is wrong; the caller counts every message as a failed
operation. References are computed with numpy, independently of Spark.
"""

from __future__ import annotations

import numpy as np

REL_TOL = 1e-6


def brute_topk(X: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int):
    """Exact top-k by (squared L2, id) over float64 copies of ``X``."""
    d = ((X.astype(np.float64) - q[None, :]) ** 2).sum(axis=1)
    order = np.lexsort((ids, d))[:k]
    return ids[order], d[order]


def answer(rows) -> tuple[list, list]:
    """(neighbor ids, distances) of one query's result rows, in rank order."""
    rows = sorted(rows, key=lambda r: r["rnk"])
    return [int(r["neighbor_id"]) for r in rows], [float(r["dist"]) for r in rows]


def check_topk(got_ids, got_d, ref_ids, ref_d, what: str = "kNN") -> str | None:
    """The answer equals the reference in (dist, id) order, with each
    distance within ``REL_TOL`` relative."""
    if list(map(int, got_ids)) != list(map(int, ref_ids)):
        return f"{what}: ids {list(got_ids)[:4]}... != reference {list(ref_ids)[:4]}..."
    for g, r in zip(got_d, ref_d):
        if abs(g - r) > REL_TOL * max(abs(r), 1e-12):
            return f"{what}: distance {g!r} != reference {r!r}"
    return None


def check_rank1(got_ids, expect_id: int) -> str | None:
    """An appended row, queried with its own vector, comes back first."""
    if len(got_ids) == 0 or int(got_ids[0]) != int(expect_id):
        return f"appended id {expect_id} not at rank 1 (got {list(got_ids)[:3]})"
    return None


def check_not_deleted(got_ids, deleted: set) -> str | None:
    back = sorted(set(map(int, got_ids)) & deleted)
    if back:
        return f"deleted ids returned: {back[:5]}"
    return None


def check_live_set(read_ids, live_ids: set) -> str | None:
    """A store reopened from disk holds exactly the acknowledged live rows."""
    got = list(map(int, read_ids))
    if len(got) != len(set(got)):
        return "reopened store holds duplicate ids"
    got = set(got)
    if got != live_ids:
        missing = sorted(live_ids - got)[:5]
        extra = sorted(got - live_ids)[:5]
        return f"reopened store differs: missing {missing}, unexpected {extra}"
    return None


def check_removed(input_ids, kept_ids, planted: set) -> str | None:
    """Curation removed exactly the planted duplicates."""
    removed = set(map(int, input_ids)) - set(map(int, kept_ids))
    if removed != planted:
        return (
            f"curation removed {len(removed)} docs, planted {len(planted)}: "
            f"extra {sorted(removed - planted)[:5]}, kept {sorted(planted - removed)[:5]}"
        )
    return None


def check_trimmed(trimmed: dict, bodies: dict) -> str | None:
    """The shared boilerplate block is cut and each body left intact."""
    for doc_id, body in bodies.items():
        if trimmed.get(doc_id) != body:
            return f"doc {doc_id}: boilerplate not trimmed to its body"
    return None
