"""Seeded input generators. The package under test only ever receives
what these functions return; the same seed always gives the same inputs.

- Vectors: a low-rank corpus (rank 32 subspace of 512-D plus 1% noise),
  the geometry real embeddings have and iid Gaussians lack.
- Queries: held-out corpus points (never inserted) with a small
  perturbation, so a query's neighbours are real but not exact copies.
- Documents: unique random-word documents, plus planted exact duplicates,
  planted one-word-edit near-duplicates whose 3-shingle Jaccard clears
  0.9 (the edit is at either end, so it breaks one shingle), and
  documents carrying a shared boilerplate block that the
  repeated-substring trim must remove.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

DIM = 512
RANK = 32
NOISE = 0.01


def vector_rng(seed: int, stream: int) -> np.random.RandomState:
    """Independent generator per input stream, all derived from one seed."""
    return np.random.RandomState((int(seed) * 1_000_003 + stream) % (2**32))


class VectorSource:
    """Draws corpus rows, held-out points and queries from one seeded
    low-rank distribution."""

    def __init__(self, seed: int, dim: int = DIM, rank: int = RANK):
        self.dim = dim
        self.rank = rank
        self.basis = (
            vector_rng(seed, 0).standard_normal((rank, dim)).astype(np.float32)
            / np.float32(np.sqrt(rank))
        )
        self._rows = vector_rng(seed, 1)
        self._queries = vector_rng(seed, 2)

    def rows(self, n: int) -> np.ndarray:
        """``n`` fresh float32 rows from the distribution."""
        z = self._rows.standard_normal((n, self.rank)).astype(np.float32)
        noise = self._rows.standard_normal((n, self.dim)).astype(np.float32)
        return z @ self.basis + np.float32(NOISE) * noise

    def queries(self, held_out: np.ndarray, n: int) -> np.ndarray:
        """``n`` float64 queries, each a held-out row plus a small
        perturbation."""
        pick = self._queries.randint(0, len(held_out), size=n)
        jitter = self._queries.standard_normal((n, self.dim)) * (NOISE / 2)
        return held_out[pick].astype(np.float64) + jitter


@dataclass
class Documents:
    rows: list                      # (doc_id, source, text)
    planted_removed: set            # ids the dedup must remove
    boilerplate_bodies: dict        # doc_id -> text left after the trim
    target_ids: list                # DSIR target sample


# The trim window is longer than any plain document, so only the shared
# boilerplate block (longer than the window) has repeated windows; the
# planted duplicates are left for the MinHash stage to remove.
DOC_WORDS = (28, 32)
SUBSTRING_K = 32
BOILERPLATE_WORDS = 40


def documents(seed: int, n_docs: int, vocab_size: int = 6000) -> Documents:
    """``n_docs`` documents: 80% unique, 6% exact duplicates, 6%
    one-word-edit near-duplicates, 8% unique bodies with a shared
    boilerplate block appended."""
    rng = np.random.RandomState((int(seed) * 7919 + 3) % (2**32))
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted(
        {"".join(rng.choice(letters, size=rng.randint(4, 10))) for _ in range(vocab_size)}
    )
    vocab = np.array(vocab)
    sources = ("web", "wiki", "code")

    def words(n: int, avoid: set | None = None) -> list:
        out = list(rng.choice(vocab, size=n, replace=False))
        if avoid:
            out = [w for w in out if w not in avoid]
        return out

    boiler = words(BOILERPLATE_WORDS)
    boiler_set = set(boiler)
    n_exact = int(n_docs * 0.06)
    n_near = int(n_docs * 0.06)
    n_boiler = int(n_docs * 0.08)
    n_unique = n_docs - n_exact - n_near - n_boiler

    texts: list = []
    for _ in range(n_unique):
        texts.append(words(rng.randint(*DOC_WORDS), boiler_set))
    copies: list = []           # (index of original, text of the copy)
    originals = rng.choice(n_unique, size=n_exact + n_near, replace=False)
    for j, o in enumerate(originals):
        t = list(texts[o])
        if j >= n_exact:        # one-word edit at either end
            pos = (0, len(t) - 1)[rng.randint(2)]
            used = set(t)
            t[pos] = next(w for w in rng.permutation(vocab) if w not in used)
        copies.append((int(o), t))
    # distinct last words: a window that starts inside the body and runs
    # into the block must not repeat in another boilerplate document
    lasts = [w for w in rng.permutation(vocab) if w not in boiler_set][:n_boiler]
    bodies = [
        words(rng.randint(*DOC_WORDS) - 1, boiler_set | {last}) + [last] for last in lasts
    ]

    # shuffle ids so copies are not always the larger id of their pair
    ids = rng.permutation(n_docs).astype(np.int64) + 1
    rows, planted, bodies_by_id = [], set(), {}
    for i, t in enumerate(texts):
        rows.append((int(ids[i]), sources[rng.randint(3)], " ".join(t)))
    for j, (o, t) in enumerate(copies):
        cid = int(ids[n_unique + j])
        rows.append((cid, sources[rng.randint(3)], " ".join(t)))
        # connected components keep the smaller id of each pair
        planted.add(max(cid, int(ids[o])))
    base = n_unique + len(copies)
    for j, body in enumerate(bodies):
        bid = int(ids[base + j])
        rows.append((bid, sources[rng.randint(3)], " ".join(body + boiler)))
        bodies_by_id[bid] = " ".join(body)
    target = sorted(r[0] for r in rows if r[1] == "wiki")
    return Documents(rows, planted, bodies_by_id, target)
