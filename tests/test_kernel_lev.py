"""Unit tests for the native similarity kernels (SURVEY.md §5: the missing
unit layer — kernel-level tests against hand-computed cases and slow
pure-Python oracles)."""

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from nmalign_spark.kernel.lev import (
    ScoreAlignment,
    cdist_levenshtein,
    cdist_partial_ratio,
    indel_distance,
    indel_normalized_similarity,
    levenshtein_distance,
    normalized_similarity,
    partial_ratio,
    partial_ratio_alignment,
)

ALPHA = "abſcd ä"  # small alphabet incl. space + non-ASCII
texts = st.text(alphabet=ALPHA, max_size=24)


# --- scalar oracles: hand-computed cases ---------------------------------

@pytest.mark.parametrize("a,b,d", [
    ("", "", 0),
    ("abc", "", 3),
    ("", "abc", 3),
    ("kitten", "sitting", 3),
    ("flaw", "lawn", 2),
    ("abc", "abc", 0),
    ("ſase", "sase", 1),
])
def test_lev_scalar(a, b, d):
    assert levenshtein_distance(a, b) == d


@pytest.mark.parametrize("a,b,d", [
    ("", "", 0),
    ("abc", "", 3),
    ("kitten", "sitting", 5),   # LCS=4 -> 6+7-8
    ("abc", "abc", 0),
    ("ab", "ba", 2),            # substitution costs 2 via indel
])
def test_indel_scalar(a, b, d):
    assert indel_distance(a, b) == d


def test_normalized_similarity_contract():
    assert normalized_similarity("", "") == 1.0
    assert normalized_similarity("abc", "abc") == 1.0
    assert normalized_similarity("abc", "abd") == pytest.approx(2 / 3)
    # cutoff zeroes, does not filter (rapidfuzz contract, align.py:60)
    assert normalized_similarity("abc", "abd", score_cutoff=0.9) == 0.0
    assert normalized_similarity("abc", "abd", score_cutoff=0.5) == pytest.approx(2 / 3)


# --- batched cdist vs scalar oracle --------------------------------------

@settings(max_examples=60, deadline=None)
@given(st.lists(texts, min_size=1, max_size=5), st.lists(texts, min_size=1, max_size=5),
       st.sampled_from([None, 0.3, 0.7]))
def test_cdist_matches_scalar(l1, l2, cutoff):
    m = cdist_levenshtein(l1, l2, score_cutoff=cutoff)
    assert m.dtype == np.float32
    assert m.shape == (len(l1), len(l2))
    for i, a in enumerate(l1):
        for j, b in enumerate(l2):
            exp = normalized_similarity(a, b, score_cutoff=cutoff)
            assert m[i, j] == pytest.approx(exp, abs=1e-6), (a, b)


def test_cdist_processor_applied_to_both_sides():
    # processor affects scoring only (align.py:54-61)
    m = cdist_levenshtein(["ſa"], ["sa"], processor=lambda s: s.replace("ſ", "s"))
    assert m[0, 0] == 1.0


# --- partial_ratio ---------------------------------------------------------

def _slow_partial_ratio_oneway(s1, s2):
    """One-direction window scan (requires len(s1) <= len(s2))."""
    if not s1 and not s2:
        return 100.0
    if not s1 or not s2:
        return 0.0
    len1, len2 = len(s1), len(s2)
    cs = set(s1)
    wins = []
    wins += [(0, i) for i in range(1, len1) if s2[i - 1] in cs]
    wins += [(i, i + len1) for i in range(0, len2 - len1 + 1) if s2[i + len1 - 1] in cs]
    wins += [(i, len2) for i in range(len2 - len1 + 1, len2) if s2[i] in cs]
    best = 0.0
    for st_, en in wins:
        best = max(best, indel_normalized_similarity(s1, s2[st_:en]))
    return best * 100.0


def _slow_partial_ratio(s1, s2):
    """Brute-force oracle incl. the published equal-length rule: when
    len(s1) == len(s2) and the first pass is not perfect, the roles are
    also tried reversed and the better score wins (the prefix/suffix
    window sets differ between directions, so this can genuinely improve
    — e.g. ('aaaaaa', 'aaaa a'))."""
    if len(s1) > len(s2):
        s1, s2 = s2, s1
    best = _slow_partial_ratio_oneway(s1, s2)
    if best != 100.0 and len(s1) == len(s2):
        best = max(best, _slow_partial_ratio_oneway(s2, s1))
    return best


@pytest.mark.parametrize("s1,s2,exp", [
    ("abc", "xxabcxx", 100.0),            # exact substring
    ("abc", "abc", 100.0),
    ("", "", 100.0),
    ("", "abc", 0.0),
    ("abc", "", 0.0),
])
def test_partial_ratio_basics(s1, s2, exp):
    assert partial_ratio(s1, s2) == exp


@settings(max_examples=80, deadline=None)
@given(texts, texts)
def test_partial_ratio_matches_oracle(s1, s2):
    assert partial_ratio(s1, s2) == pytest.approx(_slow_partial_ratio(s1, s2), abs=1e-9)


def test_partial_ratio_alignment_span():
    res = partial_ratio_alignment("abc", "xxabcxx")
    assert isinstance(res, ScoreAlignment)
    assert res.score == 100.0
    assert (res.dest_start, res.dest_end) == (2, 5)
    # earliest maximal window wins (strict-improvement update rule)
    res2 = partial_ratio_alignment("ab", "abxxab")
    assert (res2.dest_start, res2.dest_end) == (0, 2)


def test_partial_ratio_alignment_swap():
    # needle longer than haystack: fields swapped back
    res = partial_ratio_alignment("xxabcxx", "abc")
    assert res.score == 100.0
    assert (res.src_start, res.src_end) == (2, 5)
    assert (res.dest_start, res.dest_end) == (0, 3)


def test_cdist_partial_ratio_cutoff():
    m = cdist_partial_ratio(["abc", "zzz"], ["xxabcxx"], score_cutoff=50)
    assert m[0, 0] == 100.0
    assert m[1, 0] == 0.0


def _window_sims_vs_oracle(s1, s2):
    """Scores of the pooled bit-parallel LCS pass and of the scalar Indel
    oracle on every prefix, full and suffix window of the partial_ratio
    contract (requires 0 < len(s1) <= len(s2))."""
    from nmalign_spark.kernel.lev import _window_sims_multi
    n, m = len(s1), len(s2)
    windows = [(0, i) for i in range(1, n)]
    windows += [(i, i + n) for i in range(0, m - n + 1)]
    windows += [(i, m) for i in range(m - n + 1, m)]
    [got] = _window_sims_multi([(s1, windows, s2)])
    want = [indel_normalized_similarity(s1, s2[a:b]) for a, b in windows]
    return got, want


@settings(max_examples=120, deadline=None)
@given(texts, texts)
@example("aſb" * 43, "c" + "aſbä" * 40)           # 3-word needle
def test_window_sims_bitparallel_matches_dp(s1, s2):
    """The pooled bit-parallel LCS pass must equal the scalar Indel oracle
    (the dense-DP reference) on the exact window set of the partial_ratio
    contract, whatever the needle length."""
    if not s1 or len(s1) > len(s2):
        return
    got, want = _window_sims_vs_oracle(s1, s2)
    assert got.tolist() == want
    if s1 in s2:
        assert got.max() == 1.0


def test_window_sims_long_needle_fallback():
    """An 80-char needle (two state words) runs on the same pooled pass and
    finds its exact hit."""
    s1 = "ab" * 40
    got, want = _window_sims_vs_oracle(s1, "xx" + s1 + "yy")
    assert got.tolist() == want
    assert got.max() == 1.0


# --- long needles: 1, 2 and 3 words of the bit-parallel state -------------

LONG_ALPHA = "abſ ä\U0001d400\U0001f600"     # incl. non-BMP chars


def _slow_alignment_oneway(s1, s2):
    """First strictly-best window in ``_pr_windows`` order, each scored by
    the scalar Indel oracle (requires len(s1) <= len(s2))."""
    from nmalign_spark.kernel.lev import _pr_windows
    best, ds, de = 0.0, 0, len(s1)
    for st_, en in _pr_windows(s1, s2):
        sim = indel_normalized_similarity(s1, s2[st_:en])
        if sim > best:
            best, ds, de = sim, st_, en
            if best == 1.0:
                break
    return best * 100.0, 0, len(s1), ds, de


def _slow_alignment(s1, s2):
    """Pure-Python ``partial_ratio_alignment``: the shorter string is the
    needle, a swapped result is swapped back, and equal lengths also try
    the reversed roles."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 and l2 == 0:
        return 100.0, 0, 0, 0, 0
    if l1 == 0 or l2 == 0:
        return 0.0, 0, l1, 0, min(l1, l2)
    if l1 <= l2:
        res = _slow_alignment_oneway(s1, s2)
    else:
        sc, ss, se, ds, de = _slow_alignment_oneway(s2, s1)
        res = sc, ds, de, ss, se
    if res[0] != 100.0 and l1 == l2:
        sc, ss, se, ds, de = _slow_alignment_oneway(s2, s1)
        if sc > res[0]:
            res = sc, ds, de, ss, se
    return res


@st.composite
def _long_pairs(draw):
    n = draw(st.one_of(st.sampled_from([63, 64, 65, 127, 128, 129]),
                       st.integers(0, 200)))
    s1 = draw(st.text(alphabet=LONG_ALPHA, min_size=n, max_size=n))
    kind = draw(st.sampled_from(["equal", "embedded", "random"]))
    if kind == "equal":
        s2 = draw(st.text(alphabet=LONG_ALPHA, min_size=n, max_size=n))
    elif kind == "embedded":
        # a noisy copy of the needle inside a longer haystack
        noisy = list(s1)
        for _ in range(draw(st.integers(0, 4))):
            if noisy:
                k = draw(st.integers(0, len(noisy) - 1))
                noisy[k] = draw(st.sampled_from(LONG_ALPHA))
        pre = draw(st.text(alphabet=LONG_ALPHA, max_size=12))
        post = draw(st.text(alphabet=LONG_ALPHA, max_size=12))
        s2 = pre + "".join(noisy) + post
    else:
        s2 = draw(st.text(alphabet=LONG_ALPHA, max_size=n + 20))
    return (s2, s1) if draw(st.booleans()) else (s1, s2)


@settings(max_examples=40, deadline=None)
@given(_long_pairs())
@example(("ab" * 32, "ba" * 32))                  # equal 64: reversed roles
@example(("aſ" * 60 + "\U0001f600", "x" + "aſ" * 60 + "\U0001f600y"))
def test_partial_ratio_alignment_long_needles_match_oracle(pair):
    from nmalign_spark.kernel import lev
    s1, s2 = pair
    lev._PR_CACHE.clear()
    res = partial_ratio_alignment(s1, s2)
    want = _slow_alignment(s1, s2)
    assert (res.score, res.dest_start, res.dest_end) == (want[0], want[3],
                                                         want[4])
    assert (res.src_start, res.src_end) == (want[1], want[2])


def test_long_needle_scored_by_the_pooled_pass(monkeypatch):
    """A needle over 64 chars is scored by the one pooled pass: every
    window of the pair runs on a lane of ``_lcs_bucket``, on 2 or 3
    state words."""
    from nmalign_spark.kernel import lev
    seen = []
    real = lev._lcs_bucket

    def spy(W, task, *args):
        seen.append((W, len(task)))
        return real(W, task, *args)

    monkeypatch.setattr(lev, "_lcs_bucket", spy)
    needle = "the quick brown fox jumps over the lazy dog " * 2   # 88 chars
    hay = "xx " + needle + " yy"
    lev._PR_CACHE.clear()
    res = partial_ratio_alignment(needle, hay)
    assert res.score == 100.0 and (res.dest_start, res.dest_end) == (3, 91)
    assert seen == [(2, len(lev._pr_windows(needle, hay)))]
    seen.clear()
    lev._PR_CACHE.clear()
    long3 = needle + needle[:50]                                # 138 chars
    lev.cdist_partial_ratio([needle, long3], [hay + long3])
    assert sorted(seen) == [
        (2, len(lev._pr_windows(needle, hay + long3))),
        (3, len(lev._pr_windows(long3, hay + long3)))]


def test_cdist_partial_ratio_batched_equals_per_pair():
    """The pooled _window_sims_multi path must be bit-identical to scoring
    every pair individually (incl. equal-length double-orientation, needles
    of 1, 2 and 3 state words, empties, unicode)."""
    import random

    import numpy as np

    from nmalign_spark.kernel import lev

    rng = random.Random(99)
    alpha = "abcdefg ſüä"
    def rs(lo, hi):
        return "".join(rng.choice(alpha) for _ in range(rng.randrange(lo, hi)))
    queries = [rs(0, 30) for _ in range(12)] + [rs(70, 90), rs(129, 180), ""]
    choices = [rs(0, 30) for _ in range(6)] + [rs(70, 90), rs(150, 200),
                                               queries[0], ""]
    got = lev.cdist_partial_ratio(queries, choices, score_cutoff=50)
    lev._PR_CACHE.clear()
    want = np.zeros((len(queries), len(choices)), dtype=np.float32)
    for i, q in enumerate(queries):
        for j, c in enumerate(choices):
            lev._PR_CACHE.clear()     # force the unbatched scan per pair
            s = lev.partial_ratio(q, c)
            want[i, j] = 0.0 if s < 50 else s
    assert np.array_equal(got, want)


def test_cdist_more_pairs_than_cache_cap():
    """A cdist call with more distinct pairs than _PR_CACHE_MAX must not
    recompute evicted pooled results (they are held call-locally) and must
    stay bit-identical to the per-pair path."""
    import random

    import numpy as np

    from nmalign_spark.kernel import lev

    rng = random.Random(7)
    alpha = "abcdef "
    def rs():
        return "".join(rng.choice(alpha) for _ in range(rng.randrange(3, 20)))
    queries = [rs() for _ in range(70)]
    choices = [rs() for _ in range(70)]
    assert len(queries) * len(choices) > lev._PR_CACHE_MAX
    lev._PR_CACHE.clear()
    got = lev.cdist_partial_ratio(queries, choices)
    sample = [(i, j) for i in range(0, 70, 9) for j in range(0, 70, 9)]
    for i, j in sample:
        lev._PR_CACHE.clear()
        assert got[i, j] == np.float32(lev.partial_ratio(queries[i],
                                                         choices[j]))


def test_window_sims_multi_chunked_identical(monkeypatch):
    """Chunking the pooled pass (bounded peak allocation) must stay
    bit-identical to one unbounded pass."""
    import random

    from nmalign_spark.kernel import lev

    rng = random.Random(21)
    alpha = "abcdeüſ "
    def rs(lo, hi):
        return "".join(rng.choice(alpha) for _ in range(rng.randrange(lo, hi)))
    keys = []
    for lo, hi in [(1, 60)] * 25 + [(65, 128)] * 4 + [(129, 192)] * 3:
        s1 = rs(lo, hi)
        keys.append((s1, rs(len(s1), len(s1) + 80)))
    rng.shuffle(keys)
    want = lev._scan(keys)
    assert len(list(lev._chunks(keys))) == 1
    monkeypatch.setattr(lev, "_MULTI_CELL_BUDGET", 500)
    assert len(list(lev._chunks(keys))) > 5
    assert lev._scan(keys) == want
