"""ExactSubstr-style span removal (dedup.span_removal): planted-slogan
coverage, boundary precision, byte-identical rebuild of clean docs."""

import hashlib

from nmalign_spark.operators.dedup import (SHINGLE_K, SPAN_SLOGAN,
                                           span_removal)

SLOGAN_LEN = len(SPAN_SLOGAN.split(" "))


def _patched(spark, rows):
    import nmalign_spark.operators.dedup as dd
    df = spark.createDataFrame(rows, "doc_id long, text string")
    orig = dd.t
    try:
        dd.t = lambda s, sf, name: df
        return {r["doc_id"]: r for r in span_removal(spark, "unused").collect()}
    finally:
        dd.t = orig


def test_planted_slogan_removed_everywhere(spark, sf_small):
    res = {r["doc_id"]: r for r in span_removal(spark, sf_small).collect()}
    docs = {r["doc_id"]: r["text"] for r in
            spark.read.parquet(f"{sf_small}/documents.parquet")
            .select("doc_id", "text").collect()}
    assert set(res) == set(docs)
    for doc_id, text in docs.items():
        r = res[doc_id]
        n_base = len(text.split(" "))
        if doc_id % 6 == 3:
            assert r["n_tokens"] == n_base + SLOGAN_LEN
            # every slogan token is covered by a corpus-duplicated gram
            assert r["n_removed"] >= SLOGAN_LEN
        else:
            assert r["n_tokens"] == n_base
        if r["n_removed"] == 0:
            assert r["clean_md5"] == hashlib.md5(text.encode()).hexdigest()
            assert r["clean_chars"] == len(text)


def test_boundary_grams_do_not_widen_removal(spark):
    # two docs share an interior SHINGLE_K-gram; the grams straddling the
    # shared span and the unique context have occ=1, so removal is exactly
    # the shared K tokens (coverage = union of dup-gram windows).
    shared = " ".join(f"s{i}" for i in range(SHINGLE_K))
    rows = [(10, f"alpha beta {shared} gamma delta"),
            (20, f"one two three {shared} four five six")]
    out = _patched(spark, rows)
    for doc_id, head, tail in ((10, "alpha beta", "gamma delta"),
                               (20, "one two three", "four five six")):
        r = out[doc_id]
        assert r["n_removed"] == SHINGLE_K
        clean = f"{head} {tail}"
        assert r["clean_md5"] == hashlib.md5(clean.encode()).hexdigest()
        assert r["clean_chars"] == len(clean)


def test_within_doc_repetition_counts_as_duplicated(spark):
    # ExactSubstr counts OCCURRENCES: a gram repeated twice inside one doc
    # is removed even though no other doc contains it.
    rep = " ".join(f"r{i}" for i in range(SHINGLE_K))
    # ids avoid %6==3 so the operator's planted slogan stays out of play
    rows = [(1, f"{rep} middle words here {rep}"),
            (2, "totally unrelated content entirely"),
            (4, "another unrelated document text")]
    out = _patched(spark, rows)
    r = out[1]
    assert r["n_removed"] == 2 * SHINGLE_K
    clean = "middle words here"
    assert r["clean_md5"] == hashlib.md5(clean.encode()).hexdigest()
    # the unique docs rebuild byte-identically
    for doc_id, text in rows[1:]:
        assert out[doc_id]["clean_md5"] == \
            hashlib.md5(text.encode()).hexdigest()


def _naive(texts: dict, k: int) -> dict:
    """Pure-Python ExactSubstr reference: occurrence-counted K-grams
    (whole-array window for <K-token docs), union coverage, rebuild."""
    from collections import Counter

    toks = {d: t.split(" ") for d, t in texts.items()}

    def windows(l):
        n = len(l)
        if n >= k:
            return [(i, " ".join(l[i:i + k])) for i in range(n - k + 1)]
        return [(0, " ".join(l))]

    occ = Counter(g for l in toks.values() for _, g in windows(l))
    out = {}
    for d, l in toks.items():
        n = len(l)
        covered = set()
        for i, g in windows(l):
            if occ[g] >= 2:
                covered.update(range(i, min(i + k, n)))
        kept = [t for j, t in enumerate(l) if j not in covered]
        out[d] = (" ".join(kept), n, len(covered))
    return out


def test_span_removal_matches_naive_reference_fuzz(spark):
    """Randomized parity vs the naive reference: overlapping duplicated
    grams, within-doc repeats, <K-token docs, empty tokens from double
    spaces — coverage must be the exact union of dup-gram windows."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.sampled_from(["a", "b", "c", "ab", "x"])
    doc = st.lists(word, min_size=0, max_size=12).map(" ".join)
    corpus = st.lists(doc, min_size=2, max_size=5)

    @settings(max_examples=12, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(corpus)
    def run(docs):
        # ids 6*i+1 avoid the operator's %6==3 planted-slogan branch
        texts = {6 * i + 1: t for i, t in enumerate(docs)}
        expect = _naive(texts, SHINGLE_K)
        got = _patched(spark, list(texts.items()))
        assert set(got) == set(expect)
        for d, (clean, n, n_removed) in expect.items():
            r = got[d]
            assert r["n_tokens"] == n
            assert r["n_removed"] == n_removed
            assert r["clean_md5"] == hashlib.md5(clean.encode()).hexdigest()

    run()


def test_training_split_staged_semantics(spark, sf_small):
    """The composed split is a subset of verdict-keeps; no host exceeds
    the cap; per-language kept counts respect the temperature rates
    computed on the CAPPED set (staged, not ANDed)."""
    from collections import Counter

    from nmalign_spark.operators.dedup import curation_verdict, training_split
    from nmalign_spark.operators.textstats import DOMAIN_CAP_K

    split = training_split(spark, sf_small).collect()
    kept_ids = {r.doc_id for r in
                curation_verdict(spark, sf_small).where("keep").collect()}
    nat_ids = {r.doc_id for r in
               spark.read.parquet(f"{sf_small}/documents.parquet")
               .select("doc_id").collect()}
    ids = [r.doc_id for r in split]
    assert len(ids) == len(set(ids))
    assert set(ids) <= (kept_ids & nat_ids)
    assert 0 < len(ids) < len(nat_ids)
    per_host = Counter(r.host for r in split)
    assert all(v <= DOMAIN_CAP_K for v in per_host.values())


def test_materialize_ids_leaves_no_temp_directory(spark):
    """The training split's id manifest is materialized without a
    scratch directory: two calls leave no new ``nmalign-*`` entry in the
    temp dir, and the rows read back intact."""
    import glob
    import os
    import tempfile

    from nmalign_spark.operators.dedup import materialize

    pattern = os.path.join(tempfile.gettempdir(), "nmalign-*")
    before = set(glob.glob(pattern))
    got = [materialize(spark.range(50).withColumnRenamed("id", "doc_id"))
           for _ in range(2)]
    assert set(glob.glob(pattern)) == before
    assert [sorted(r.doc_id for r in g.collect()) for g in got] == [list(range(50))] * 2
