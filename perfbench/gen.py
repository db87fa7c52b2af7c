"""Seeded inputs for the index benchmark: corpus, appends, deletes, queries.

Everything derives from one integer seed through independent
``SeedSequence`` streams, so the same seed gives byte-identical inputs and
changing how many rounds one workload consumes never shifts another
stream. The engine only ever sees the parquet files and query strings made
here; the oracle sees the token codes behind them.

Corpus shape (Zipf text, the Collex archive facet):

* words drawn from a ``VOCAB``-word vocabulary with Zipf exponent
  ``ZIPF_S`` — a handful of hot terms with df near N, a long tail of rare
  ones and terms that never occur;
* lognormal doc length, median ``LEN_MEDIAN`` tokens, clipped to
  ``LEN_MIN..LEN_MAX`` so a few long docs skew ``dl``;
* one ``archive`` metadata column with ``N_ARCHIVES`` Zipf-weighted values,
  the fq facet Collex users filter on.

Query log: 1-4 distinct terms per query; each term is head (rank < 100)
with probability 25%, torso (100..5k) 45%, tail (5k..VOCAB) 30%, drawn
Zipf-weighted inside its class.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

import numpy as np

VOCAB = 100_000
ZIPF_S = 1.07
LEN_MEDIAN = 60
LEN_SIGMA = 0.7
LEN_MIN, LEN_MAX = 3, 3000
N_ARCHIVES = 50
ARCHIVE_S = 1.0
HEAD, TORSO = 100, 5_000
CLASS_P = (0.25, 0.45, 0.30)

# stream ids: one SeedSequence child per input kind
_VOCAB, _CORPUS, _QUERIES, _APPEND, _DELETE = range(5)


def _rng(seed: int, stream: int, *sub: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, stream, *sub]))


def _zipf_weights(n: int, s: float) -> np.ndarray:
    return np.arange(1, n + 1, dtype=np.float64) ** -s


def _cdf(w: np.ndarray) -> np.ndarray:
    c = np.cumsum(w)
    return c / c[-1]


def _draw(rng: np.random.Generator, cdf: np.ndarray, size) -> np.ndarray:
    """Ranks (0-based) distributed by ``cdf``."""
    return np.minimum(np.searchsorted(cdf, rng.random(size), side="right"),
                      len(cdf) - 1)


def vocabulary(seed: int) -> np.ndarray:
    """Rank → word. Words are 4-letter lowercase strings (one analyzer token
    each); rank order is shuffled against lexical order, so hot terms are
    spread over the term-sorted block files."""
    codes = _rng(seed, _VOCAB).permutation(VOCAB) + 26 ** 3
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    digits = np.stack([(codes // 26 ** p) % 26 for p in (3, 2, 1, 0)], axis=1)
    return np.array(["".join(r) for r in letters[digits]], dtype=object)


@dataclass
class Docs:
    """A batch of generated documents with dense ids ``first_id..``."""

    first_id: int
    codes: np.ndarray    # flat int32 term ranks
    offsets: np.ndarray  # len n+1, doc i = codes[offsets[i]:offsets[i+1]]
    archive: np.ndarray  # object array of archive names

    @property
    def n(self) -> int:
        return len(self.offsets) - 1

    @property
    def doc_ids(self) -> np.ndarray:
        return np.arange(self.first_id, self.first_id + self.n, dtype=np.int64)

    def texts(self, vocab: np.ndarray) -> list[str]:
        words = vocab[self.codes]
        o = self.offsets
        return [" ".join(words[o[i]:o[i + 1]]) for i in range(self.n)]

    def write_parquet(self, vocab: np.ndarray, path: str) -> int:
        """Write (doc_id, text, archive) as one parquet file; returns the
        UTF-8 text bytes written (the user-data size)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        texts = self.texts(vocab)
        table = pa.table({
            "doc_id": pa.array(self.doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "archive": pa.array(self.archive.tolist(), pa.string()),
        })
        pq.write_table(table, path)
        return int(sum(len(t) for t in texts))  # words are ASCII


def archive_names() -> np.ndarray:
    return np.array([f"arch{i:02d}" for i in range(N_ARCHIVES)], dtype=object)


def docs(seed: int, n: int, first_id: int = 0, batch: int = 0) -> Docs:
    """``n`` documents; ``batch`` 0 is the base corpus, batch r ≥ 1 the
    r-th appended generation."""
    rng = _rng(seed, _CORPUS if batch == 0 else _APPEND, batch)
    lens = np.clip(
        np.rint(rng.lognormal(np.log(LEN_MEDIAN), LEN_SIGMA, n)),
        LEN_MIN, LEN_MAX).astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(lens)))
    codes = _draw(rng, _cdf(_zipf_weights(VOCAB, ZIPF_S)), int(offsets[-1]))
    arch = archive_names()[_draw(rng, _cdf(_zipf_weights(N_ARCHIVES, ARCHIVE_S)), n)]
    return Docs(first_id, codes.astype(np.int32), offsets, arch)


def delete_sample(seed: int, live: np.ndarray, n: int, round_: int) -> np.ndarray:
    """``n`` distinct ids drawn from the sorted ``live`` id array."""
    rng = _rng(seed, _DELETE, round_)
    return np.sort(rng.choice(live, size=min(n, len(live)), replace=False))


@dataclass(frozen=True)
class Query:
    """One logged query. ``kind``: plain | fq | lucene | sql."""

    kind: str
    terms: tuple[str, ...]
    archive: str | None = None

    @property
    def text(self) -> str:
        """The query string the engine receives."""
        if self.kind != "lucene":
            return " ".join(self.terms)
        must, *rest = self.terms
        if len(rest) >= 2:  # "+a b.. -z": the last term is prohibited
            return " ".join([f"+{must}", *rest[:-1], f"-{rest[-1]}"])
        return " ".join([f"+{must}", *rest])

    @property
    def where(self) -> str | None:
        return None if self.archive is None else f"archive = '{self.archive}'"

    @property
    def must(self) -> tuple[str, ...]:
        return self.terms[:1] if self.kind == "lucene" else ()

    @property
    def must_not(self) -> tuple[str, ...]:
        return self.terms[-1:] if self.kind == "lucene" and len(self.terms) >= 3 else ()

    @property
    def should(self) -> tuple[str, ...]:
        if self.kind != "lucene":
            return self.terms
        return self.terms[1:len(self.terms) - len(self.must_not)]


def query_stream(seed: int, vocab: np.ndarray, stream: int,
                 kinds: tuple[str, ...] = ("plain",)):
    """Endless deterministic query stream; query i has kind
    ``kinds[i % len(kinds)]``, so a fixed cycle fixes the kind mix."""
    w = _zipf_weights(VOCAB, ZIPF_S)
    bounds = ((0, HEAD), (HEAD, TORSO), (TORSO, VOCAB))
    cdfs = [_cdf(w[lo:hi]) for lo, hi in bounds]
    arch_cdf = _cdf(_zipf_weights(N_ARCHIVES, ARCHIVE_S))
    i = 0
    for chunk in itertools.count():
        rng = _rng(seed, _QUERIES, stream, chunk)
        for _ in range(256):
            kind = kinds[i % len(kinds)]
            n_terms = int(rng.integers(1, 5))
            ranks: list[int] = []
            while len(ranks) < n_terms:
                c = int(rng.choice(3, p=CLASS_P))
                r = bounds[c][0] + int(_draw(rng, cdfs[c], None))
                if r not in ranks:
                    ranks.append(r)
            archive = (archive_names()[int(_draw(rng, arch_cdf, None))]
                       if kind == "fq" else None)
            yield Query(kind, tuple(vocab[ranks]), archive)
            i += 1
