import itertools

import numpy as np

import gen


def _inputs(seed, tmp_path):
    vocab = gen.vocabulary(seed)
    base = gen.docs(seed, 400)
    appended = gen.docs(seed, 50, first_id=400, batch=1)
    path = tmp_path / f"{seed}-{len(list(tmp_path.iterdir()))}.parquet"
    base.write_parquet(vocab, str(path))
    dels = gen.delete_sample(seed, np.arange(450), 20, 0)
    qs = list(itertools.islice(
        gen.query_stream(seed, vocab, 0, kinds=("plain", "fq", "lucene")), 300))
    return vocab, base, appended, path.read_bytes(), dels, qs


def test_same_seed_gives_identical_inputs(tmp_path):
    a = _inputs(7, tmp_path)
    b = _inputs(7, tmp_path)
    assert np.array_equal(a[0], b[0])
    for da, db in ((a[1], b[1]), (a[2], b[2])):
        assert np.array_equal(da.codes, db.codes)
        assert np.array_equal(da.offsets, db.offsets)
        assert np.array_equal(da.archive, db.archive)
    assert a[3] == b[3]  # parquet bytes
    assert np.array_equal(a[4], b[4])
    assert [(q.kind, q.text, q.where) for q in a[5]] == \
           [(q.kind, q.text, q.where) for q in b[5]]


def test_other_seed_gives_other_inputs(tmp_path):
    a = _inputs(7, tmp_path)
    b = _inputs(8, tmp_path)
    assert a[3] != b[3]
    assert [q.text for q in a[5]] != [q.text for q in b[5]]


def test_corpus_shape():
    vocab = gen.vocabulary(1)
    assert len(set(vocab)) == gen.VOCAB
    assert all(len(w) == 4 and w.isalpha() and w.islower() for w in vocab[:1000])
    d = gen.docs(1, 5000)
    lens = np.diff(d.offsets)
    assert lens.min() >= gen.LEN_MIN and lens.max() <= gen.LEN_MAX
    assert 50 <= np.median(lens) <= 70
    # Zipf: the hottest term is in most docs, most of the vocabulary is rare
    counts = np.bincount(d.codes, minlength=gen.VOCAB)
    assert counts[0] > counts[99] > counts[4999]
    assert set(d.archive) <= set(gen.archive_names())
    assert d.texts(vocab)[0].split() == list(vocab[d.codes[:lens[0]]])


def test_query_stream_kinds_and_terms():
    vocab = gen.vocabulary(3)
    kinds = ("plain", "fq", "lucene", "sql")
    qs = list(itertools.islice(gen.query_stream(3, vocab, 1, kinds=kinds), 600))
    assert [q.kind for q in qs] == [kinds[i % 4] for i in range(600)]
    for q in qs:
        assert 1 <= len(q.terms) <= 4 and len(set(q.terms)) == len(q.terms)
        assert (q.where is not None) == (q.kind == "fq")
    lucene = [q for q in qs if q.kind == "lucene" and len(q.terms) == 4]
    q = lucene[0]
    assert q.text == f"+{q.terms[0]} {q.terms[1]} {q.terms[2]} -{q.terms[3]}"
    assert (q.must, q.should, q.must_not) == (q.terms[:1], q.terms[1:3], q.terms[3:])


def test_delete_sample_draws_live_ids():
    live = np.array([1, 4, 9, 16, 25, 36], dtype=np.int64)
    ids = gen.delete_sample(5, live, 3, 2)
    assert len(set(ids)) == 3 and set(ids) <= set(live)
    assert list(ids) == sorted(ids)
