"""Greedy monotonicity-weighted assignment of two string lists.

Portions of the greedy loop below closely follow bertsky/nmalign
(MIT License, Copyright Robert Sachunsky) — the mandate is byte-identical
output of that exact algorithm (argmax tie-breaks, float dtypes, cutoff
rules), so the control flow necessarily mirrors lib/align.py.

Faithful re-derivation of ``nmalign.lib.align.match``
(/root/reference/nmalign/lib/align.py:17-166) with the rapidfuzz ``cdist``
swapped for the native NumPy kernel.  The interactive prompt path
(SURVEY.md §2.10 U3) is supported LOCAL-ONLY via the ``interactive=``
callback below — the Spark operators never pass it (no executor I/O).

This is the sequential per-document core: it runs once per group inside the
Arrow kernel (`applyInPandas`/`mapInPandas`); document-level parallelism is
Spark's job.  The loop itself must stay sequential — each iteration's
monotonicity bonus depends on all previous assignments (align.py:87-96), so
splitting it would change results.

Two implementations of the identical semantics:

* :func:`_match_fast` (default) — the scale path.  The reference rebuilds
  the N×M boolean monotonicity matrix from scratch every iteration with a
  Python loop over all assigned pairs (align.py:87-96) and re-gathers
  ``np.ix_`` copies of dist/length/monotonicity — O(N·M) allocations and
  ~7 matrix passes per pick, O(N²·M) overall with a large constant; a
  2500-line page costs minutes in this stage alone.  The fast path instead
  maintains the monotonicity matrix **incrementally** (:class:`_Frontier`:
  each new assignment splits one gap of the block-triangular mask — only
  the split gap's rows and the newly-crossed column range change), computes
  the priority over the *full* matrices with masked rows/cols driven to
  ``-inf`` (no gathers, buffers reused), and keeps every floating-point
  operation in the reference's exact order and dtype so results are
  bit-identical (fuzz-verified against the reference loop in
  tests/test_kernel_frontier.py; golden hash in tests/test_golden.py).
* :func:`_match_reference` — the literal transcription of align.py:62-166,
  kept for the corners the fast path does not model (interactive rejections
  mutate ``dist`` mid-loop; zero-length l2 strings make the ``-inf × 0``
  masking ill-defined) and as the fuzz oracle.
"""

from __future__ import annotations

import bisect
import functools

import numpy as np

from ..functions.normalize import make_preprocessor
from .lev import cdist_levenshtein
from .subseg import SUBSEG_ACC_MAX, SUBSEG_LEN_MIN, match_subseg

__all__ = ["match"]


def match(l1, l2, workers=1, normalization=None, cutoff=None, try_subseg=False,
          dist=None, interactive=None):
    """Force alignment of string lists; returns ``(result, scores)``.

    Contract identical to the reference (align.py:17-33): ``result`` is an
    int array of shape (N,) — or (3, N) = (idx, beg, end) when ``try_subseg``
    — mapping each l1 index to an l2 index (−1 = unmatched / cut off);
    ``scores`` is float32 in [0, 1].  ``workers`` is accepted for signature
    parity but ignored: intra-matrix threading (align.py:60) is superseded by
    Spark task parallelism (SURVEY.md §2.10 U4).

    ``dist`` optionally injects a precomputed N×M float32 similarity matrix
    (the skew-salted path scores row chunks in parallel Spark tasks and
    reassembles the matrix before this sequential loop — SURVEY.md §4
    custom-work #1; values must equal ``cdist_levenshtein`` output, which is
    exact because every cell is a pure function of one (l1[i], l2[j]) pair).

    ``interactive`` optionally supplies an approval callback
    ``cb(prompt_text) -> bool`` for the reference's per-pair gate
    (align.py:131-145): a rejected subsegmentation falls back to the
    whole-pair prompt, a rejected pair sets ``dist[i,j] = -inf`` and the
    loop retries (same prompt texts as the reference).  LOCAL-ONLY (the CLI
    ``-i`` flag): Spark executors have no interactive I/O (SURVEY.md §2.10
    U3), so the distributed operators never pass it.
    """
    assert len(l1) > 0
    assert len(l2) > 0
    assert isinstance(l1[0], str)
    assert isinstance(l2[0], str)
    # one normalization per distinct string per call: the matrix stage and
    # every subseg call (align.py:181-184, 205) see the same lines
    preprocess = functools.cache(make_preprocessor(normalization))
    if dist is None:
        dist = cdist_levenshtein(l1, l2, score_cutoff=cutoff,
                                 processor=preprocess)
    else:
        assert dist.shape == (len(l1), len(l2))
        if interactive is not None:
            # rejections write -inf into dist; never mutate a
            # caller-supplied matrix in place
            dist = dist.copy()
    if interactive is not None or any(len(s) == 0 for s in l2):
        return _match_reference(l1, l2, dist, cutoff, try_subseg,
                                interactive, preprocess)
    return _match_fast(l1, l2, dist, cutoff, try_subseg, preprocess)


def build_monotonicity(dim1, dim2, pairs):
    """The reference's from-scratch block-triangular mask (align.py:87-96):
    ``pairs`` = assigned (row, col) sorted by row ascending.  Used by the
    reference loop each iteration and by the fuzz tests as the oracle for
    :class:`_Frontier`."""
    monotonicity = np.zeros((dim1, dim2), dtype=bool)
    prev_ind1, prev_ind2 = 0, 0
    for ind1, ind2 in list(pairs) + [(dim1, dim2)]:
        if (ind1 >= prev_ind1) == (ind2 >= prev_ind2):
            monotonicity[prev_ind1:ind1, prev_ind2:ind2] = True
        else:
            monotonicity[prev_ind1:ind1, :] = False
            monotonicity[:, ind2:prev_ind2] = False
        prev_ind1, prev_ind2 = ind1, ind2
    return monotonicity


class _Frontier:
    """Incrementally-maintained monotonicity mask.

    Invariant: ``self.mono`` (uint8 0/1) always equals
    ``build_monotonicity(dim1, dim2, zip(self.rows, self.cols))``.

    Closed form of the reference scan (derivation in VERDICT r1 item 2 /
    PLANS.md): with assigned pairs (a_t, b_t) sorted by row plus sentinels
    (a_0,b_0)=(0,0), (a_{k+1},b_{k+1})=(dim1,dim2), a cell (i, j) with i in
    row-gap t = [a_{t-1}, a_t) is True iff

        b_t >= b_{t-1}            (step t monotonic)
      and b_{t-1} <= j < b_t      (inside the step's column interval)
      and no later step t' > t is non-monotonic with b_{t'} <= j < b_{t'-1}
                                   (column not crossed afterwards)

    Inserting one pair (a, b) into gap [aL, aR) with neighbour columns
    (bL, bR) therefore only:

    * trims rows [aL, a) to ``old ∧ [bL, b)`` (the split's first sub-step);
    * trims rows [a, aR) to ``old ∧ [b, bR)`` when ``b >= bL`` — or, when
      ``b < bL`` (the new interval extends left of the old one, so the old
      row content cannot supply it), rebuilds those rows from the closed
      form using the later-steps crossing intervals (O(k + M));
    * zeroes the newly-crossed column range(s) ``[b, bL)`` / ``[bR, b)``
      for the rows above the gap (crossing intervals only ever grow).

    Amortized cost per insertion is O(touched area), vs the reference's
    full O(N·M) rebuild + O(k) Python block loop per iteration.
    """

    def __init__(self, dim1: int, dim2: int):
        self.dim1, self.dim2 = dim1, dim2
        self.rows: list[int] = []
        self.cols: list[int] = []
        self.mono = np.ones((dim1, dim2), dtype=np.uint8)
        if dim2 == 0:       # degenerate; keeps the invariant exact
            self.mono[:] = 0

    def _later_crossings(self, s: int):
        """Non-monotonic step intervals strictly after gap ``s`` (steps
        between consecutive pairs from index ``s`` to the sentinel)."""
        out = []
        prev_b = self.cols[s] if s < len(self.rows) else self.dim2
        for t in range(s + 1, len(self.rows) + 1):
            nb = self.cols[t] if t < len(self.rows) else self.dim2
            if nb < prev_b:
                out.append((nb, prev_b))
            prev_b = nb
        return out

    def insert(self, a: int, b: int) -> None:
        rows, cols, mono = self.rows, self.cols, self.mono
        s = bisect.bisect_left(rows, a)
        aL = rows[s - 1] if s > 0 else 0
        bL = cols[s - 1] if s > 0 else 0
        aR = rows[s] if s < len(rows) else self.dim1
        bR = cols[s] if s < len(rows) else self.dim2
        # newly-crossed columns zero out surviving blocks above the gap
        if b < bL:
            mono[:aL, b:bL] = 0
        if bR < b:
            mono[:aL, bR:b] = 0
        # rows [aL, a): old ∧ [bL, b)
        if b <= bL:
            if bR > bL:
                mono[aL:a, bL:bR] = 0
            # else: old step non-monotonic, rows already all-zero
        elif b < bR:
            mono[aL:a, b:bR] = 0
        # rows [a, aR)
        if bR < b:
            if bR > bL:
                mono[a:aR, bL:bR] = 0
        elif b >= bL:
            if b > bL:
                mono[a:aR, bL:min(b, bR)] = 0
        else:
            # b < bL: interval extends left of the old one — rebuild the
            # rows from the closed form (later crossings unchanged by the
            # insert, so computed from the CURRENT pair list)
            cmask = np.zeros(self.dim2, dtype=np.uint8)
            cmask[b:bR] = 1
            for lo, hi in self._later_crossings(s):
                cmask[lo:hi] = 0
            mono[a:aR, :] = cmask[None, :]
        rows.insert(s, a)
        cols.insert(s, b)


def _match_fast(l1, l2, dist, cutoff, try_subseg, preprocess):
    """Bit-identical greedy loop over full matrices with incremental
    monotonicity.  FP order/dtype notes (each must match the reference):

    * bonus = ``coverage * monotonicity``: float64 scalar × {0,1} → exactly
      0.0 or ``coverage`` (reference: float64 × bool);
    * priority = ``(dist + bonus) * length``: float32 dist widened exactly
      to float64 by the add, then multiplied by the exact float64 of the
      int length — same association and promotion as the reference's
      ``(distview + coverage*monotonicity) * lengthview``;
    * masked rows/cols carry ``-inf`` in ``distw`` so they propagate to
      ``-inf`` priority (lengths of removed columns are forced to 1.0;
      kept columns keep true lengths, and the caller guarantees none is 0);
    * the row-major ``argmax`` therefore picks the same cell as the
      reference's argmax over the compacted ``np.ix_`` view: compaction
      preserves row-major order, kept priorities are ≥ 0 > -inf, and ties
      resolve to the first occurrence in both.
    """
    dim1 = len(l1)
    dim2 = len(l2)
    idx1 = np.arange(dim1)
    keep1 = np.ones(dim1, dtype=bool)
    keep2 = np.ones(dim2, dtype=bool)
    result = -1 * np.ones(dim1, dtype=int)
    if try_subseg:
        # result must also hold start and end pos (align.py:69-72)
        result = np.tile(result, (3, 1))
        result_idx, result_beg, result_end = result
    else:
        result_idx = result
    scores = np.zeros(dim1, dtype=dist.dtype)
    lengths2 = np.fromiter((len(s) for s in l2), dtype=np.float64, count=dim2)
    distw = dist.astype(np.float64)
    frontier = _Frontier(dim1, dim2)
    tmp = np.empty((dim1, dim2), dtype=np.float64)
    n_kept1, n_kept2 = dim1, dim2
    for _ in range(dim1):
        if n_kept1 == 0 or n_kept2 == 0:
            break
        # sigmoid in nr of assigned idx1 (align.py:97-98)
        coverage = 1.0 - n_kept1 / dim1
        coverage = 0.5 / (1 + np.exp(5 * (0.5 - coverage)))
        # score = (similarity + monotonicity * coverage) * length
        # (align.py:100-101), fused over the full matrices
        np.multiply(frontier.mono, coverage, out=tmp)
        np.add(tmp, distw, out=tmp)
        np.multiply(tmp, lengths2[None, :], out=tmp)
        # row-major first-occurrence argmax — determinism-critical
        # (align.py:102)
        ind1, ind2 = divmod(int(np.argmax(tmp)), dim2)
        if not (keep1[ind1] and keep2[ind2]):  # pragma: no cover
            # unreachable without interactive -inf rejections (kept
            # priorities are >= 0); kept for parity with the view loop,
            # which would pick the first kept cell in row-major order
            ind1 = int(np.argmax(keep1))
            ind2 = int(np.argmax(keep2))
        score = dist[ind1, ind2]
        seg1 = l1[ind1]
        seg2 = l2[ind2]
        assert result_idx[ind1] < 0
        assert keep1[ind1]
        assert keep2[ind2]
        # try subsegmentation / splitting ind2 (align.py:115-130)
        if (try_subseg and
                score < SUBSEG_ACC_MAX and
                ' ' in seg2 and
                len(seg2) > SUBSEG_LEN_MIN and
                len(seg2) - len(seg1) > SUBSEG_LEN_MIN / 2):
            scoresfor2 = dist[keep1, ind2]
            indxesfor2 = idx1[keep1]
            subseg = match_subseg(l1, seg2, scoresfor2, indxesfor2,
                                  min_score=max(score, cutoff or 0),
                                  processor=preprocess)
        else:
            subseg = []
        if not len(subseg):
            if cutoff and score < cutoff:
                if not try_subseg:
                    # without subsegmentation, follow-up results will only
                    # be worse (align.py:147-150)
                    break
                keep2[ind2] = False  # don't try again (align.py:152)
                distw[:, ind2] = -np.inf
                lengths2[ind2] = 1.0
                n_kept2 -= 1
                continue
            result_idx[ind1] = ind2
            scores[ind1] = score
            keep1[ind1] = False
            keep2[ind2] = False
            distw[ind1, :] = -np.inf
            distw[:, ind2] = -np.inf
            lengths2[ind2] = 1.0
            frontier.insert(ind1, ind2)
            n_kept1 -= 1
            n_kept2 -= 1
        else:
            keep2[ind2] = False
            distw[:, ind2] = -np.inf
            lengths2[ind2] = 1.0
            n_kept2 -= 1
            for subind1, begin, end, subscore in subseg:
                result_idx[subind1] = ind2
                result_beg[subind1] = begin
                result_end[subind1] = end
                scores[subind1] = subscore
                keep1[subind1] = False
                distw[subind1, :] = -np.inf
                frontier.insert(int(subind1), ind2)
                n_kept1 -= 1
    return result, scores


def _match_reference(l1, l2, dist, cutoff, try_subseg, interactive,
                     preprocess):
    """Literal transcription of the reference loop (align.py:62-166) —
    the interactive path and the fuzz oracle for :func:`_match_fast`."""
    dim1 = len(l1)
    dim2 = len(l2)
    idx1 = np.arange(dim1)
    idx2 = np.arange(dim2)
    keep1 = np.ones(dim1, dtype=bool)
    keep2 = np.ones(dim2, dtype=bool)
    result = -1 * np.ones(dim1, dtype=int)
    if try_subseg:
        # result must also hold start and end pos (align.py:69-72)
        result = np.tile(result, (3, 1))
        result_idx, result_beg, result_end = result
    else:
        result_idx = result
    # normalized similarity favours short sequences, but we want longest
    # matches first -> multiply with sequence length (align.py:75-78)
    scores = np.zeros(dim1, dtype=dist.dtype)
    length = np.tile(list(map(len, l2)), (dim1, 1))
    for _ in range(dim1):
        distview = dist[np.ix_(keep1, keep2)]
        if not distview.size:
            break
        # monotonicity bonus: block-triangular mask from the current
        # assignment frontier (align.py:84-96)
        monotonicity = build_monotonicity(
            dim1, dim2, zip(np.flatnonzero(~keep1), result_idx[~keep1]))
        monotonicity = monotonicity[np.ix_(keep1, keep2)]
        coverage = 1.0 - monotonicity.shape[0] / dim1  # sigmoid in nr of assigned idx1
        coverage = 0.5 / (1 + np.exp(5 * (0.5 - coverage)))  # align.py:97-98
        lengthview = length[np.ix_(keep1, keep2)]
        # score = (similarity + monotonicity * coverage) * length (align.py:100-101)
        priority = (distview + coverage * monotonicity) * lengthview
        # row-major first-occurrence argmax — determinism-critical (align.py:102)
        ind1, ind2 = np.unravel_index(np.argmax(priority, axis=None), priority.shape)
        scoresfor2 = distview[:, ind2]  # for subseg below
        indxesfor2 = idx1[keep1]        # for subseg below
        score = distview[ind1, ind2]
        ind1 = idx1[keep1][ind1]
        ind2 = idx2[keep2][ind2]
        seg1 = l1[ind1]
        seg2 = l2[ind2]
        assert result_idx[ind1] < 0
        assert keep1[ind1]
        assert keep2[ind2]
        # try subsegmentation / splitting ind2 (align.py:115-130)
        if (try_subseg and
                score < SUBSEG_ACC_MAX and
                ' ' in seg2 and
                len(seg2) > SUBSEG_LEN_MIN and
                len(seg2) - len(seg1) > SUBSEG_LEN_MIN / 2):
            subseg = match_subseg(l1, seg2, scoresfor2, indxesfor2,
                                  min_score=max(score, cutoff or 0),
                                  processor=preprocess)
        else:
            subseg = []
        if len(subseg) and interactive is not None:
            text = ("Found subsegmentation:\n" +
                    "".join("%d/%d[%d:%d] (%.2f)\n> %s\n< %s\n" % (
                        subind1, ind2, begin, end, subscore,
                        l1[subind1], seg2[begin:end])
                        for subind1, begin, end, subscore
                        in sorted(subseg, key=lambda sub: sub[1])) + "Accept")
            if not interactive(text):
                subseg = []
        if not len(subseg):
            if interactive is not None:
                text = ("Found %d/%d (%.2f):\n> %s\n< %s\nAccept"
                        % (ind1, ind2, score, seg1, seg2))
                if not interactive(text):
                    dist[ind1, ind2] = -np.inf  # skip next time (align.py:144)
                    continue
            if cutoff and score < cutoff:
                if not try_subseg:
                    # without subsegmentation, follow-up results will only be
                    # worse (align.py:147-150)
                    break
                keep2[ind2] = False  # don't try again (align.py:152)
                continue
            result_idx[ind1] = ind2
            scores[ind1] = score
            keep1[ind1] = False
            keep2[ind2] = False
        else:
            keep2[ind2] = False
            for subind1, begin, end, subscore in subseg:
                result_idx[subind1] = ind2
                result_beg[subind1] = begin
                result_end[subind1] = end
                scores[subind1] = subscore
                keep1[subind1] = False
    return result, scores
