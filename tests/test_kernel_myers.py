"""Bit-parallel Myers kernel: parity with the scalar DP oracle across word
boundaries, bucket mixes, and empty inputs."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from nmalign_spark.kernel import myers
from nmalign_spark.kernel.lev import levenshtein_distance
from nmalign_spark.kernel.myers import myers_cdist, myers_cdist_many


def test_word_boundaries():
    qs = ["a" * k for k in (0, 1, 5, 63, 64, 65, 127, 128, 129)]
    cs = ["a" * k + "b" for k in (0, 40, 63, 64, 65, 130)] + ["", "xyz"]
    d = myers_cdist(qs, cs)
    for i, q in enumerate(qs):
        for j, c in enumerate(cs):
            assert d[i, j] == levenshtein_distance(q, c), (i, j)


def test_mixed_buckets_one_call():
    qs = ["short", "x" * 70, "", "y" * 140, "another short one"]
    cs = ["short", "x" * 69 + "z", "w" * 200]
    d = myers_cdist(qs, cs)
    for i, q in enumerate(qs):
        for j, c in enumerate(cs):
            assert d[i, j] == levenshtein_distance(q, c), (i, j)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.text(alphabet="ab c", max_size=80), min_size=1, max_size=4),
       st.lists(st.text(alphabet="ab c", max_size=80), min_size=1, max_size=4))
def test_hypothesis_parity(l1, l2):
    d = myers_cdist(l1, l2)
    for i, a in enumerate(l1):
        for j, b in enumerate(l2):
            assert d[i, j] == levenshtein_distance(a, b)


def test_unicode_beyond_bmp():
    d = myers_cdist(["a😀b", "😀😀"], ["ab", "a😀b", "😀"])
    assert d[0].tolist() == [1, 0, 2]
    assert d[1].tolist() == [2, 2, 1]


def _assert_oracle(docs, many):
    assert len(many) == len(docs)
    for (qs, cs), got in zip(docs, many):
        assert got.shape == (len(qs), len(cs))
        for i, a in enumerate(qs):
            for j, b in enumerate(cs):
                assert got[i, j] == levenshtein_distance(a, b), (a, b)


@settings(max_examples=40, deadline=None)
@given(st.lists(
    st.tuples(
        st.lists(st.text(alphabet="ab c", max_size=140), min_size=0, max_size=5),
        st.lists(st.text(alphabet="ab c", max_size=90), min_size=0, max_size=5)),
    min_size=1, max_size=8))
def test_cdist_many_matches_per_doc(docs):
    """Batched flat scoring == the scalar DP oracle, including empty docs
    and queries of one, two and three 64-bit words in one batch."""
    _assert_oracle(docs, myers_cdist_many(docs))


def test_cdist_many_mixed_word_counts():
    """Queries of every word-boundary length spread over several documents,
    beside empty documents, non-BMP characters, one 1,000-char choice, and
    documents whose alphabets differ (one vocabulary per document)."""
    text = "ab c" * 40
    lens = [0, 1, 63, 64, 65, 127, 128, 129]
    docs = [
        ([text[:k] for k in lens[:4]], ["ab c" * 10, "", "b" * 64]),
        ([], ["orphan choice"]),
        ([text[1:k + 1] for k in lens[4:]], ["ca b" * 33, "a" * 129]),
        (["only queries"], []),
        (["a😀b" * 22, "😀" * 65, "x😀"], ["a😀b", "😀" * 64, ""]),
        ([text[:k] for k in lens], ["ab c" * 250, "ab", "c" * 70]),
        # choice chars that only other documents' queries have
        (["xyz", "zz"], ["x😀q", "ab c", "zyx"]),
    ]
    _assert_oracle(docs, myers_cdist_many(docs))


def test_cdist_many_never_scores_per_document(monkeypatch):
    """Documents with 65- and 130-char queries stay in the flat pass: one
    bucket pass per word count for the whole batch, no per-document call."""
    def per_document(*a, **k):
        raise AssertionError("per-document Myers path called")
    monkeypatch.setattr(myers, "myers_cdist", per_document)
    buckets = []
    bucket = myers._myers_bucket

    def spy(W, pq, *rest):
        buckets.append((W, len(pq)))
        return bucket(W, pq, *rest)
    monkeypatch.setattr(myers, "_myers_bucket", spy)
    docs = [(["a" * 65, "short"], ["a" * 60, "b"]),
            (["b" * 130, "c" * 10], ["b" * 129]),
            (["tiny"], ["tinier", "tin"])]
    _assert_oracle(docs, myers_cdist_many(docs))
    assert buckets == [(1, 5), (2, 2), (3, 1)]


@settings(max_examples=30, deadline=None)
@given(st.lists(
    st.tuples(
        st.lists(st.text(alphabet="ab c", max_size=60), min_size=1, max_size=4),
        st.lists(st.text(alphabet="ab c", max_size=60), min_size=1, max_size=4)),
    min_size=1, max_size=6),
    st.one_of(st.none(), st.floats(min_value=0.1, max_value=0.9)))
def test_cdist_levenshtein_many_matches_per_doc(docs, cutoff):
    """Similarity wrapper parity: float32 values, cutoff zeroing, processor."""
    from nmalign_spark.kernel.lev import (cdist_levenshtein,
                                          cdist_levenshtein_many)
    proc = str.lower
    many = cdist_levenshtein_many(docs, score_cutoff=cutoff, processor=proc)
    for (qs, cs), got in zip(docs, many):
        want = cdist_levenshtein(qs, cs, score_cutoff=cutoff, processor=proc)
        assert got.dtype == np.float32
        assert np.array_equal(got, want)
