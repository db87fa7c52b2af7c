"""Independent BM25 oracle over the generator's token codes (numpy only).

It never reads the index or calls engine code: postings come straight from
the generated documents. The scoring is the exact Lucene form pinned at
the top of ``rdf_indexer_spark/index/bm25.py``::

    idf(t)     = ln(1 + (N − df + 0.5)/(df + 0.5))
    score(d,q) = Σ_{t∈q} idf(t) · tf/(tf + k1·(1 − b + b·dl/avgdl))
    k1 = 1.2, b = 0.75; ties broken (score desc, doc_id asc)

and accumulates per doc in the engine's order (required terms, then
optional ones, each ascending by term), so equal scores stay bit-equal and
the tie rule decides ranks the same way. Tombstoned docs are hidden but
still count in N, df and avgdl (Lucene deleted-docs semantics, as
``index/maintain.py`` documents).
"""

from __future__ import annotations

import math

import numpy as np

from gen import Docs, Query

K1 = 1.2
B = 0.75
REL_TOL = 1e-9


class Generation:
    """Postings of one generated document batch, term-major."""

    def __init__(self, docs: Docs):
        lens = np.diff(docs.offsets)
        local = np.repeat(np.arange(docs.n, dtype=np.int64), lens)
        key, tf = np.unique((docs.codes.astype(np.int64) << 32) | local,
                            return_counts=True)
        terms = key >> 32
        change = np.flatnonzero(np.diff(terms)) + 1
        self.uterms = terms[np.concatenate(([0], change))]
        self.bounds = np.concatenate(([0], change, [len(terms)]))
        self.ids = (key & 0xFFFFFFFF) + docs.first_id
        self.tf = tf
        self.first_id = docs.first_id
        self.dl = lens
        self.archive = docs.archive
        self.n = docs.n
        self.tokens = int(lens.sum())

    def postings(self, code: int):
        """(ids, tf, dl) of ``code`` in this batch, or None."""
        i = int(np.searchsorted(self.uterms, code))
        if i == len(self.uterms) or self.uterms[i] != code:
            return None
        s, e = self.bounds[i], self.bounds[i + 1]
        ids = self.ids[s:e]
        return ids, self.tf[s:e], self.dl[ids - self.first_id]


class Oracle:
    """The expected index state: generations appended in id order plus a
    tombstone set."""

    def __init__(self, vocab: np.ndarray):
        self.code_of = {w: i for i, w in enumerate(vocab)}
        self.gens: list[Generation] = []
        self.deleted = np.array([], dtype=np.int64)

    def append(self, docs: Docs) -> None:
        if docs.first_id != self.n_docs:
            raise ValueError("generations must continue the dense id space")
        self.gens.append(Generation(docs))

    def delete(self, ids: np.ndarray) -> None:
        self.deleted = np.union1d(self.deleted, np.asarray(ids, np.int64))

    @property
    def n_docs(self) -> int:
        return sum(g.n for g in self.gens)

    @property
    def avgdl(self) -> float:
        return sum(g.tokens for g in self.gens) / self.n_docs

    def _unit(self, term: str):
        """(idf, ids, tf, dl) for an indexed term, else None."""
        code = self.code_of.get(term)
        if code is None:
            return None
        parts = [p for g in self.gens if (p := g.postings(code)) is not None]
        if not parts:
            return None
        ids = np.concatenate([p[0] for p in parts])
        df = len(ids)
        idf = math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
        return (idf, ids,
                np.concatenate([p[1] for p in parts]).astype(np.float64),
                np.concatenate([p[2] for p in parts]).astype(np.float64))

    def _allowed(self, archive: str | None) -> np.ndarray | None:
        if archive is None:
            return None
        return np.concatenate([
            np.flatnonzero(g.archive == archive) + g.first_id
            for g in self.gens])

    def search(self, q: Query, k: int) -> list[tuple[int, float]]:
        """Expected top-k of ``q``: plain/fq/sql are OR queries, lucene is
        ``+must should.. -must_not``."""
        must = sorted(set(q.must))
        should = sorted(set(q.should) - set(must))
        must_u = [self._unit(t) for t in must]
        if any(u is None for u in must_u):
            return []  # strict +required: an unindexed MUST term matches nothing
        should_u = [u for t in should if (u := self._unit(t)) is not None]
        hidden = self.deleted
        for t in sorted(set(q.must_not)):
            u = self._unit(t)
            if u is not None:
                hidden = np.union1d(hidden, u[1])
        return _topk(must_u, should_u, k, self.avgdl, hidden,
                     self._allowed(q.archive))


def _topk(must, should, k, avgdl, hidden, allowed):
    units = must + should
    if not units or k <= 0:
        return []
    universe = np.unique(np.concatenate([u[1] for u in units]))
    score = np.zeros(len(universe))
    ok = np.ones(len(universe), dtype=bool)
    for idf, ids, tf, dl in units:
        idx = np.searchsorted(universe, ids)
        score[idx] += (idf * tf) / (tf + K1 * (1.0 - B + B * dl / avgdl))
    for _, ids, _, _ in must:
        ok &= np.isin(universe, ids, assume_unique=True)
    ok &= ~np.isin(universe, hidden)
    if allowed is not None:
        ok &= np.isin(universe, allowed)
    cand = np.flatnonzero(ok)
    order = np.lexsort((universe[cand], -score[cand]))[:k]
    return [(int(universe[cand[i]]), float(score[cand[i]])) for i in order]


def mismatch(got: list[tuple[int, float]],
             want: list[tuple[int, float]]) -> str | None:
    """Why ``got`` differs from ``want`` (None when it matches): any rank
    difference, or a score off by more than ``REL_TOL`` relative."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return f"ranks differ: got {got[:3]}.. want {want[:3]}.."
    for (d, s), (_, w) in zip(got, want):
        if abs(s - w) > REL_TOL * max(abs(w), 1e-300):
            return f"doc {d}: score {s!r} != {w!r}"
    return None
