"""Tests for the greedy assignment loop (align.py:17-166 semantics)."""

import numpy as np
import pytest

from nmalign_spark import match


def test_identity_alignment():
    l = ["the quick brown fox", "jumps over", "the lazy dog tonight"]
    result, scores = match(l, list(l))
    assert result.tolist() == [0, 1, 2]
    assert scores.dtype == np.float32
    assert np.allclose(scores, 1.0)


def test_noisy_alignment():
    l2 = ["Was ist Aufklärung über Menschen",
          "eine kurze Geschichte der Zeit",
          "der kleine Prinz reist weit"]
    l1 = ["Was ist Aufklaerung ueber Menschen",   # noisy variants, same order
          "eine kurtze Geschicht der Zeyt",
          "der kleine Printz reyst weit"]
    result, scores = match(l1, l2)
    assert result.tolist() == [0, 1, 2]
    assert (scores > 0.7).all()


def test_unmatched_stays_minus_one_with_cutoff():
    l1 = ["totally unrelated line one", "zzz qqq vvv www"]
    l2 = ["the reference text line", "another reference line"]
    result, scores = match(l1, l2, cutoff=0.9)
    # with a high cutoff and no subseg, first sub-cutoff pick ends the loop
    # (align.py:147-150) -> everything unmatched
    assert (result == -1).all()
    assert (scores == 0).all()


def test_normalization_affects_score_not_output():
    l1 = ["ſchoͤne Welt"]
    l2 = ["schöne Welt"]
    nrm = {"ſ": "s", "oͤ": "ö"}
    r_plain, s_plain = match(l1, l2)
    r_norm, s_norm = match(l1, l2, normalization=nrm)
    assert r_norm.tolist() == [0]
    assert s_norm[0] > s_plain[0]
    assert s_norm[0] == 1.0


def test_length_priority_prefers_long_lines_first():
    # two candidates score equally; the longer l2 line must be assigned to the
    # equally-scoring l1 partner deterministically (priority *= len(l2[j]),
    # align.py:100-101)
    l1 = ["aaaa bbbb cccc dddd", "xy"]
    l2 = ["aaaa bbbb cccc dddd", "xy"]
    result, _ = match(l1, l2)
    assert result.tolist() == [0, 1]


def test_monotonicity_bonus_resolves_ambiguity():
    # identical short lines: monotonicity bonus (align.py:87-101) should keep
    # reading order once the unambiguous anchors are placed
    l1 = ["anchor line alpha omega", "dup", "dup", "anchor line beta gamma"]
    l2 = ["anchor line alpha omega", "dup", "dup", "anchor line beta gamma"]
    result, _ = match(l1, l2)
    assert result.tolist() == [0, 1, 2, 3]


def test_subseg_splits_merged_line():
    # one l2 line is the concatenation of two (noisy) l1 segments -> with
    # try_subseg both l1 rows map to that l2 line with sub-spans
    # (align.py:115-128,158-165).  The l1 side carries OCR-style noise: a
    # *perfect* sub-alignment would produce a zero-weight edge that the
    # csr conversion drops (see test below).
    part1 = "the quick brown fox jumps"
    part2 = "over the lazy sleeping dog"
    l1 = ["the quickk brown fox junps",   # noisy part1
          "ovre the lazy sleping dog",    # noisy part2
          "an unrelated trailing line here"]
    l2 = [part1 + " " + part2, "an unrelated trailing line here"]
    result, scores = match(l1, l2, try_subseg=True)
    assert result.shape == (3, len(l1))
    idx, beg, end = result
    assert idx.tolist() == [0, 0, 1]
    # spans: ordered, non-overlapping, inside the line
    assert beg[0] < end[0] <= beg[1] < end[1] <= len(l2[0])
    # whole-line match keeps -1/-1 sentinel spans (align.py:68-74)
    assert beg[2] == -1 and end[2] == -1
    # extracted spans roughly reconstruct the two parts
    assert "quick" in l2[0][beg[0]:end[0]]
    assert "lazy" in l2[0][beg[1]:end[1]]
    assert (scores[:2] > 0.7).all()


def test_subseg_perfect_concat_zero_edge_dropped():
    # fidelity to the reference + scipy: a perfect sub-alignment has distance
    # (1 - 100/100) * span = 0.0, and csr_matrix(dense) drops exact zeros
    # (SURVEY.md §4.3) — so a *perfectly* concatenated line does NOT split;
    # it falls back to a whole-line assignment of the closer part.
    part1 = "the quick brown fox jumps"
    part2 = "over the lazy sleeping dog"
    l1 = [part1, part2, "an unrelated trailing line here"]
    l2 = [part1 + " " + part2, "an unrelated trailing line here"]
    result, _ = match(l1, l2, try_subseg=True)
    idx, beg, end = result
    # one of the two parts takes the merged line whole, the other stays -1
    assert sorted(idx.tolist()) == [-1, 0, 1]
    merged_rows = idx == 0
    assert (beg[merged_rows] == -1).all() and (end[merged_rows] == -1).all()


def test_input_validation():
    with pytest.raises(AssertionError):
        match([], ["a"])
    with pytest.raises(AssertionError):
        match(["a"], [])


def test_interactive_rejection_retries_next_best():
    """align.py:131-145: a rejected pair gets dist[i,j] = -inf and the loop
    retries; an accept-all callback changes nothing."""
    from nmalign_spark.kernel.assign import match
    l1 = ["alpha beta", "gamma delta"]
    l2 = ["alpha beta", "gamma delta"]
    # accept-all == non-interactive
    r_plain, s_plain = match(l1, l2)
    r_acc, s_acc = match(l1, l2, interactive=lambda text: True)
    assert list(r_plain) == list(r_acc)
    # reject the first proposed pair only: that exact (i,j) must be skipped
    seen = []
    def rej_first(text):
        seen.append(text)
        return len(seen) > 1
    r_rej, s_rej = match(l1, l2, interactive=rej_first)
    assert len(seen) >= 2
    assert "Accept" in seen[0] and "Found" in seen[0]
    # identity pair 0->0 or 1->1 was rejected once; the other assignments
    # still complete and no l2 index is used twice
    used = [j for j in r_rej if j >= 0]
    assert len(set(used)) == len(used)


def test_interactive_subseg_rejection_falls_back_to_pair_prompt():
    """Uses the fixture that genuinely triggers subsegmentation (same lists
    as test_subseg_splits_merged_line): the subseg prompt must fire, its
    rejection must fall through to the whole-pair prompt, and the final
    result must have NO sub-spans (all whole-line or unmatched)."""
    from nmalign_spark.kernel.assign import match
    l1 = ["the quickk brown fox junps",
          "ovre the lazy sleping dog",
          "an unrelated trailing line here"]
    l2 = ["the quick brown fox jumps over the lazy sleeping dog",
          "an unrelated trailing line here"]
    # accept-all must reproduce the split (sanity: the fixture subsegments)
    prompts_acc = []
    res_acc, _ = match(l1, l2, try_subseg=True,
                       interactive=lambda t: prompts_acc.append(t) or True)
    assert any(p.startswith("Found subsegmentation") for p in prompts_acc)
    assert (res_acc[1] >= 0).any()          # sub-spans committed
    # reject-subseg: falls back to the pair prompt, no spans in the result
    prompts = []
    def rej_subseg(text):
        prompts.append(text)
        return not text.startswith("Found subsegmentation")
    res, scores = match(l1, l2, try_subseg=True, interactive=rej_subseg)
    assert any(p.startswith("Found subsegmentation") for p in prompts)
    pair_after = [p for p in prompts if not p.startswith("Found subseg")]
    assert pair_after                        # whole-pair prompt followed
    idx, beg, end = res
    assert (beg == -1).all() and (end == -1).all()


def test_interactive_does_not_mutate_injected_dist():
    import numpy as np
    from nmalign_spark.kernel.assign import match
    from nmalign_spark.kernel.lev import cdist_levenshtein
    l1 = ["alpha beta", "gamma delta"]
    l2 = ["alpha beta", "gamma delta"]
    dist = cdist_levenshtein(l1, l2)
    snapshot = dist.copy()
    match(l1, l2, dist=dist, interactive=lambda t: False)  # reject all
    assert np.array_equal(dist, snapshot)


def test_each_string_normalized_once_per_match(monkeypatch):
    """One ``match`` call normalizes each distinct string at most once,
    although the matrix stage and every subseg call score the same lines."""
    from collections import Counter

    from nmalign_spark.kernel import assign

    seen = Counter()
    real = assign.make_preprocessor

    def counting(normalization):
        fn = real(normalization)

        def preprocess(s):
            seen[s] += 1
            return fn(s)
        return preprocess

    calls = []
    real_subseg = assign.match_subseg

    def subseg_spy(*args, **kwargs):
        calls.append(args[1])
        return real_subseg(*args, **kwargs)

    monkeypatch.setattr(assign, "make_preprocessor", counting)
    monkeypatch.setattr(assign, "match_subseg", subseg_spy)
    l1 = ["the quickk brown fox junps", "ovre the lazy sleping dog",
          "a ſecond merged line begins", "and it endſ right about here"]
    l2 = ["the quick brown fox jumps over the lazy sleeping dog",
          "a second merged line begins and it ends right about here"]
    match(l1, l2, normalization={"ſ": "s"}, try_subseg=True)
    assert len(calls) >= 2
    assert seen and max(seen.values()) == 1
