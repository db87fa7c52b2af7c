"""The oracle against the engine's declarative scorer on a tiny seeded index."""

import itertools

import numpy as np
import pytest

import gen
from oracle import Oracle, mismatch

N = 400
K = 10


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    session = run.start_session(str(tmp_path_factory.mktemp("spark")))
    yield session
    run.stop_session(session)


def _exhaustive(reader, q):
    rows = reader.score_exhaustive(q.text, K, where=q.where).collect()
    return [(r["doc_id"], r["score"]) for r in rows]


def _check(reader, oracle, queries):
    hits = 0
    for q in queries:
        want = oracle.search(q, K)
        assert mismatch(_exhaustive(reader, q), want) is None, q
        hits += len(want)
    return hits


def test_oracle_matches_score_exhaustive(spark, tmp_path):
    from rdf_indexer_spark.index.bm25 import IndexReader
    from rdf_indexer_spark.index.build import build_index
    from rdf_indexer_spark.index.maintain import append_documents, delete_docs

    seed = 11
    vocab = gen.vocabulary(seed)
    oracle = Oracle(vocab)
    idx = str(tmp_path / "idx")
    base = gen.docs(seed, N)
    base.write_parquet(vocab, str(tmp_path / "base.parquet"))
    build_index(spark, spark.read.parquet(str(tmp_path / "base.parquet")), idx,
                meta_cols=("archive",), resume=False, write_postings=False,
                n_docs=N, num_buckets=3)
    oracle.append(base)
    queries = list(itertools.islice(
        gen.query_stream(seed, vocab, 0, kinds=("plain", "fq")), 30))
    assert _check(IndexReader(spark, idx), oracle, queries) > 0

    # a second generation plus tombstones: deleted docs vanish from results
    # but still count in N, df and avgdl
    more = gen.docs(seed, 60, first_id=N, batch=1)
    more.write_parquet(vocab, str(tmp_path / "more.parquet"))
    append_documents(spark, spark.read.parquet(str(tmp_path / "more.parquet")),
                     idx, meta_cols=("archive",))
    oracle.append(more)
    top = [d for d, _ in oracle.search(queries[0], K)]
    dels = np.array(sorted(set(top[:3]) | {N + 1, N + 5}), dtype=np.int64)
    delete_docs(spark, idx, dels.tolist())
    oracle.delete(dels)
    reader = IndexReader(spark, idx)
    assert reader.n_docs == oracle.n_docs
    assert abs(reader.avgdl - oracle.avgdl) <= 1e-12 * oracle.avgdl
    assert _check(reader, oracle, queries) > 0
    assert not set(dels) & {d for q in queries for d, _ in oracle.search(q, K)}


def test_lucene_semantics_are_must_should_not():
    vocab = np.array(["aaaa", "bbbb", "cccc", "dddd"], dtype=object)
    # doc 0: a b, doc 1: a c, doc 2: b c, doc 3: a b c
    codes = np.array([0, 1, 0, 2, 1, 2, 0, 1, 2], dtype=np.int32)
    docs = gen.Docs(0, codes, np.array([0, 2, 4, 6, 9]),
                    np.array(["x", "x", "y", "y"], dtype=object))
    oracle = Oracle(vocab)
    oracle.append(docs)
    q = gen.Query("lucene", ("aaaa", "bbbb", "cccc"))  # +aaaa bbbb -cccc
    assert [d for d, _ in oracle.search(q, 10)] == [0]
    assert oracle.search(gen.Query("lucene", ("dddd", "aaaa")), 10) == []
    fq = gen.Query("fq", ("aaaa",), archive="y")
    assert [d for d, _ in oracle.search(fq, 10)] == [3]
    oracle.delete(np.array([3]))
    assert oracle.search(fq, 10) == []


def test_mismatch_rules():
    want = [(1, 2.0), (2, 1.0)]
    assert mismatch([(1, 2.0), (2, 1.0 + 1e-12)], want) is None
    assert mismatch([(1, 2.0), (2, 1.0 + 1e-6)], want) is not None
    assert mismatch([(2, 1.0), (1, 2.0)], want) is not None
    assert mismatch([(1, 2.0)], want) is not None
