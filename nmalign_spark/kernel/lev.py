"""Native string-similarity kernels (rapidfuzz-equivalent, NumPy-vectorized).

The reference (bertsky/nmalign) delegates all string scoring to the public
rapidfuzz C++ library:

* ``rapidfuzz.distance.Levenshtein.normalized_similarity`` used via
  ``rapidfuzz.process.cdist`` — /root/reference/nmalign/lib/align.py:5,60-61
* ``rapidfuzz.fuzz.partial_ratio`` — align.py:6,181-184
* ``rapidfuzz.fuzz.partial_ratio_alignment`` — align.py:6,205-211

This sandbox has no rapidfuzz, and the build mandate ("rapidfuzz-equivalent,
recomputed natively in vectorized pandas/Arrow UDFs") requires a from-scratch
implementation. Everything here is derived from the *published* rapidfuzz API
contract (uniform-cost Levenshtein; Indel = LCS-based distance; partial_ratio
= best Indel window of the shorter string inside the longer) — no code is
copied from any engine.

Design notes (scale): the hot call is the similarity matrix of every
document's line lists inside an Arrow batch, :func:`cdist_levenshtein_many`.
It runs on the bit-parallel Myers kernel (kernel/myers.py): one flat pass
over every (query, choice) pair of the batch, whatever the line lengths.
The dense DP over a 3-D tensor ``(N queries × M choices × max-choice-length)``
(:func:`_batched_dp`) serves only the Indel windows of the
partial-ratio fallback for needles over 64 chars.  Its horizontal DP
dependency (``D[i][j] = min(..., D[i][j-1]+1)``) is solved in closed form
with a cumulative minimum::

    D[i][j] = j + cummin_k<=j ( E[k] - k )   where E = vertical/diagonal min

which keeps the whole inner recurrence inside NumPy.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from functools import lru_cache as _lru_cache

__all__ = [
    "ScoreAlignment",
    "levenshtein_distance",
    "normalized_similarity",
    "indel_distance",
    "indel_normalized_similarity",
    "cdist_levenshtein",
    "cdist_levenshtein_many",
    "cdist_partial_ratio",
    "partial_ratio",
    "partial_ratio_alignment",
]


@dataclass
class ScoreAlignment:
    """Result contract of ``fuzz.partial_ratio_alignment``.

    ``score`` is on the 0–100 scale; ``src_*`` index into the first string,
    ``dest_*`` into the second (post-swap semantics identical to rapidfuzz:
    if ``len(s1) > len(s2)`` the window search runs swapped and the fields
    are swapped back).  The reference consumes ``score``, ``dest_start`` and
    ``dest_end`` (align.py:208-211).
    """

    score: float
    src_start: int
    src_end: int
    dest_start: int
    dest_end: int


def _encode(s: str) -> np.ndarray:
    """Unicode string -> uint32 codepoint array (O(n), no Python loop)."""
    return np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)


def _pad_encode(strings: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Encode a list of strings into a zero-padded (n, maxlen) matrix + lengths."""
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=len(strings))
    maxlen = int(lens.max()) if len(lens) else 0
    out = np.zeros((len(strings), max(maxlen, 1)), dtype=np.uint32)
    for k, s in enumerate(strings):
        if s:
            out[k, : len(s)] = _encode(s)
    return out, lens


# ---------------------------------------------------------------------------
# scalar oracles (simple, readable; used for tests and tiny inputs)
# ---------------------------------------------------------------------------

def levenshtein_distance(a: str, b: str) -> int:
    """Uniform-cost (ins=del=sub=1) Levenshtein distance, classic DP."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (ca != b[j - 1]),
            )
        prev = cur
    return prev[lb]


def normalized_similarity(a: str, b: str, score_cutoff: float | None = None) -> float:
    """``1 - lev(a,b)/max(|a|,|b|)``; values below ``score_cutoff`` -> 0.

    Matches the rapidfuzz ``Levenshtein.normalized_similarity`` contract used
    at align.py:5,60 (both-empty => 1.0; cutoff zeroes, not filters).
    """
    m = max(len(a), len(b))
    sim = 1.0 if m == 0 else 1.0 - levenshtein_distance(a, b) / m
    if score_cutoff is not None and sim < score_cutoff:
        return 0.0
    return sim


def indel_distance(a: str, b: str) -> int:
    """Indel (insert/delete only; substitution = 2) distance = |a|+|b|-2*LCS."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (0 if ca == b[j - 1] else 2),
            )
        prev = cur
    return prev[lb]


def indel_normalized_similarity(a: str, b: str) -> float:
    """``1 - indel(a,b)/(|a|+|b|)`` in [0,1]; both-empty => 1.0."""
    m = len(a) + len(b)
    return 1.0 if m == 0 else 1.0 - indel_distance(a, b) / m


# ---------------------------------------------------------------------------
# batched DP core
# ---------------------------------------------------------------------------

def _batched_dp(A: np.ndarray, lens1: np.ndarray, B: np.ndarray, lens2: np.ndarray,
                sub_cost: int) -> np.ndarray:
    """Batched edit-distance DP.

    A: (N, La) padded query codepoints, lens1: (N,)
    B: (M, Lb) padded choice codepoints, lens2: (M,)
    sub_cost: 1 for Levenshtein, 2 for Indel (substitution via ins+del).

    Returns (N, M) int32 distance matrix.  Python loop runs max(lens1) times;
    all inner work is (N, M, Lb)-shaped NumPy.
    """
    n, la_max = A.shape[0], int(lens1.max()) if A.shape[0] else 0
    m, lb_max = B.shape[0], int(lens2.max()) if B.shape[0] else 0
    out = np.empty((n, m), dtype=np.int32)
    if n == 0 or m == 0:
        return out
    jj = np.arange(lb_max + 1, dtype=np.int32)
    # row i=0: distance to prefix j is j deletions
    prev = np.broadcast_to(jj, (n, m, lb_max + 1)).copy()
    # queries of length 0: answer is len(b)
    done0 = lens1 == 0
    if done0.any():
        out[done0, :] = lens2[np.newaxis, :].astype(np.int32)
    for i in range(1, la_max + 1):
        ca = A[:, i - 1][:, None, None]                      # (N,1,1)
        cost = np.where(B[None, :, :] == ca, 0, sub_cost)    # (N,M,Lb)
        # vertical / diagonal candidates
        e = np.minimum(prev[:, :, 1:] + 1, prev[:, :, :-1] + cost)
        full = np.concatenate(
            [np.full((n, m, 1), i, dtype=prev.dtype), e], axis=2)
        # horizontal closure: D[j] = j + cummin_{k<=j}(full[k] - k)
        cur = jj + np.minimum.accumulate(full - jj, axis=2)
        hit = lens1 == i
        if hit.any():
            out[hit, :] = np.take_along_axis(
                cur[hit], lens2[None, :, None].repeat(int(hit.sum()), 0), axis=2
            )[:, :, 0].astype(np.int32)
        prev = cur
    return out


# ---------------------------------------------------------------------------
# cdist (rapidfuzz.process.cdist equivalents, align.py:60-61 / 181-184)
# ---------------------------------------------------------------------------

def cdist_levenshtein(queries: list[str], choices: list[str],
                      score_cutoff: float | None = None,
                      processor=None) -> np.ndarray:
    """Full N×M matrix of Levenshtein ``normalized_similarity``.

    Mirrors ``cdist(l1, l2, scorer=normalized_similarity, score_cutoff=...,
    processor=...)`` at align.py:60-61: the processor is applied to every
    element of both lists before scoring, scores below cutoff are reported
    as 0, and the result dtype is float32 (rapidfuzz cdist default — the
    reference's ``scores`` array inherits it at align.py:77).
    """
    if processor is not None:
        queries = [processor(s) for s in queries]
        choices = [processor(s) for s in choices]
    from .myers import myers_cdist
    return _sim_from_dist(myers_cdist(queries, choices), queries, choices,
                          score_cutoff)


def _sim_from_dist(dist: np.ndarray, queries: list[str], choices: list[str],
                   score_cutoff: float | None) -> np.ndarray:
    l1 = np.fromiter((len(s) for s in queries), dtype=np.int64, count=len(queries))
    l2 = np.fromiter((len(s) for s in choices), dtype=np.int64, count=len(choices))
    denom = np.maximum(np.maximum.outer(l1, l2), 1).astype(np.float64)
    sim = 1.0 - dist.astype(np.float64) / denom
    both_empty = (l1[:, None] == 0) & (l2[None, :] == 0)
    sim[both_empty] = 1.0
    if score_cutoff is not None:
        sim[sim < score_cutoff] = 0.0
    return sim.astype(np.float32)


def cdist_levenshtein_many(doc_pairs: list[tuple[list[str], list[str]]],
                           score_cutoff: float | None = None,
                           processor=None) -> list[np.ndarray]:
    """Batched ``cdist_levenshtein``: one similarity matrix per document.

    All documents' (query, choice) pairs are scored in ONE flat bit-parallel
    pass (kernel/myers.py ``myers_cdist_many``; north_star: "the
    similarity-matrix stage batched across documents") — identical values to
    per-document calls.  On the 999 ordinary pages of a generated benchmark
    batch (perfbench seed 961, Arrow batches of 200 pages, 4-vCPU host, 5
    runs) its Myers pass takes a median of 0.60 CPU-s against 6.4 CPU-s for
    one ``myers_cdist`` call per page, because the per-document NumPy
    dispatch amortizes over the batch."""
    if processor is not None:
        doc_pairs = [([processor(s) for s in qs], [processor(s) for s in cs])
                     for qs, cs in doc_pairs]
    from .myers import myers_cdist_many
    dists = myers_cdist_many(doc_pairs)
    return [_sim_from_dist(d, qs, cs, score_cutoff)
            for d, (qs, cs) in zip(dists, doc_pairs)]


def cdist_partial_ratio(queries: list[str], choices: list[str],
                        score_cutoff: float | None = None,
                        processor=None) -> np.ndarray:
    """N×M matrix of ``fuzz.partial_ratio`` (0–100 scale).

    Mirrors align.py:181-184 (``scorer=partial_ratio, score_cutoff=50``):
    scores below cutoff report 0.

    Batching: the windowed scans of ALL uncached pairs run in ONE pooled
    bit-parallel pass (:func:`_window_sims_multi`) — one 64-step numpy loop
    per cdist call instead of one per pair — then a second pooled pass for
    the equal-length reversed orientations that the partial_ratio swap rule
    requires.  Results (bit-identical to the per-pair path, asserted in
    tests/test_kernel_lev.py) are held in a call-local dict — immune to
    ``_PR_CACHE`` evictions when a call has more pairs than the cache cap —
    and opportunistically inserted into the cache so the exact
    ``partial_ratio_alignment`` phase of the subseg kernel reuses them.
    """
    if processor is not None:
        queries = [processor(s) for s in queries]
        choices = [processor(s) for s in choices]

    local: dict[tuple[str, str], tuple] = {}

    def put(k, val) -> None:
        local[k] = val
        _pr_cache_put(k, val)

    def batch_compute(keys) -> None:
        """Score (needle, haystack) keys via the pooled scan."""
        todo = []
        for k in keys:
            if k in local:
                continue
            cached = _PR_CACHE.get(k)
            if cached is not None:
                local[k] = cached
            else:
                todo.append(k)
        fast, slow = [], []
        for k in todo:
            s1, s2 = k
            windows = _pr_windows(s1, s2)
            if not windows:
                put(k, (0.0, 0, len(s1), 0, len(s1)))
            elif 1 <= len(s1) <= 64:
                fast.append((k, windows))
            else:
                slow.append(k)
        if fast:
            sims_list = _window_sims_multi(
                [(k[0], windows, k[1]) for k, windows in fast])
            for (k, windows), sims in zip(fast, sims_list):
                put(k, _best_window(windows, sims, len(k[0])))
        for k in slow:
            local[k] = _partial_ratio_cached(*k)

    # orientation per pair (the partial_ratio swap rule): needle = shorter
    pairs = [(q, c) for q in queries for c in choices]
    batch_compute({(q, c) if len(q) <= len(c) else (c, q)
                   for q, c in pairs if q and c})
    # equal-length second orientation, needed when the first scan is < 100
    batch_compute({(c, q) for q, c in pairs
                   if q and c and len(q) == len(c)
                   and local.get((q, c), (0.0,))[0] != 100.0})

    def score_pair(q: str, c: str) -> float:
        # partial_ratio_alignment's swap rule, read from the local results
        lq, lc = len(q), len(c)
        if lq == 0 and lc == 0:
            return 100.0
        if lq == 0 or lc == 0:
            return 0.0
        key = (q, c) if lq <= lc else (c, q)
        val = local.get(key)
        if val is None:                            # cache hit path above
            val = _partial_ratio_cached(*key)
        sc = val[0]
        if sc != 100.0 and lq == lc:
            rev = local.get((c, q))
            if rev is None:
                rev = _partial_ratio_cached(c, q)
            sc = max(sc, rev[0])
        return sc

    out = np.zeros((len(queries), len(choices)), dtype=np.float32)
    for i, q in enumerate(queries):
        for j, c in enumerate(choices):
            score = score_pair(q, c)
            if score_cutoff is not None and score < score_cutoff:
                score = 0.0
            out[i, j] = score
    return out


# ---------------------------------------------------------------------------
# partial_ratio — best Indel window of the shorter string inside the longer
# ---------------------------------------------------------------------------

@_lru_cache(maxsize=16)
def _haystack_profile(s2: str):
    """(codepoints, unique chars, inverse index) of a haystack, memoized:
    the subseg candidate scan scores MANY needles against the SAME seg2
    (align.py:181-184), so the per-call unique/encode was pure overhead."""
    s2c = _encode(s2)
    uniq, inv = np.unique(s2c, return_inverse=True)
    return s2c, uniq, inv


def _window_sims_dp(s1: str, windows: list[tuple[int, int]], s2: str) -> np.ndarray:
    """Dense-DP fallback (needles > 64 chars): one batched Indel DP over all
    windows at once."""
    subs = [s2[st:en] for st, en in windows]
    A1 = np.frombuffer(s1.encode("utf-32-le"), dtype=np.uint32)[None, :]
    l1 = np.array([len(s1)], dtype=np.int64)
    B, l2 = _pad_encode(subs)
    dist = _batched_dp(A1, l1, B, l2, sub_cost=2)[0].astype(np.float64)
    return 1.0 - dist / (len(s1) + l2)


def _window_sims(s1: str, windows: list[tuple[int, int]], s2: str) -> np.ndarray:
    """Indel normalized similarity of needle ``s1`` vs each ``s2[st:en]``
    window.

    Fast path (needle <= 64 chars, the common case for text lines): the
    classic bit-parallel LCS recurrence — ``u = S & M[c]; S = (S+u)|(S-u)``,
    LCS = popcount(~S) — vectorized across ALL windows at once (one uint64
    lane per window, one step per window character).  Indel distance then
    follows from ``|a|+|b| - 2*LCS``.  O(maxwin) numpy steps of O(W) work vs
    the dense DP's O(|s1|·W·maxwin); measured ~6x faster on the subseg
    workload and bit-identical to the DP on randomized cross-checks
    (tests/test_kernel_lev.py).
    """
    n = len(s1)
    if n == 0 or not windows:
        return _window_sims_dp(s1, windows, s2)
    if n > 64:
        return _window_sims_dp(s1, windows, s2)
    midx, lens = _window_mask(s1, windows, s2)
    W = len(windows)
    S = np.full(W, np.uint64(0xFFFFFFFFFFFFFFFF), dtype=np.uint64)
    maxlen = midx.shape[1]
    with np.errstate(over="ignore"):
        for t in range(maxlen):
            u = S & midx[:, t]
            S = (S + u) | (S - u)
    lcs = np.unpackbits((~S).view(np.uint8).reshape(W, 8),
                        axis=1).sum(axis=1).astype(np.float64)
    dist = n + lens - 2.0 * lcs
    return 1.0 - dist / (n + lens)


def _window_mask(s1: str, windows, s2: str):
    """(W, maxlen) uint64 mask matrix + window lengths for the bit-parallel
    scan: row w, column t holds needle-char bitmask of ``s2[start_w + t]``,
    zero beyond the window's length (a zero mask is a no-op step)."""
    s2c, uniq, inv = _haystack_profile(s2)
    p1 = _encode(s1)
    M = np.zeros(len(uniq), dtype=np.uint64)
    idx = np.searchsorted(uniq, p1)
    ok = idx < len(uniq)
    ok &= uniq[np.clip(idx, 0, len(uniq) - 1)] == p1
    for k in np.flatnonzero(ok):
        M[idx[k]] |= np.uint64(1) << np.uint64(k)
    starts = np.fromiter((st for st, _ in windows), dtype=np.int64,
                         count=len(windows))
    lens = np.fromiter((en - st for st, en in windows), dtype=np.int64,
                       count=len(windows))
    maxlen = int(lens.max())
    pos = np.clip(starts[:, None] + np.arange(maxlen)[None, :], 0,
                  len(s2c) - 1)
    midx = M[inv[pos]]
    midx[np.arange(maxlen)[None, :] >= lens[:, None]] = np.uint64(0)
    return midx, lens


_MULTI_CELL_BUDGET = 1 << 22        # uint64 cells per pooled pass (~32 MB)


def _window_sims_multi(tasks) -> list[np.ndarray]:
    """Bounded-memory wrapper over :func:`_window_sims_multi_impl`: the
    pooled pass materializes a (total_windows x maxlen) uint64 matrix, so
    many needles against a long haystack (the SUBSEG_ACC_MIN=0 gate selects
    every line) could peak at hundreds of MB.  Tasks are processed in
    chunks whose estimated cell count stays under ``_MULTI_CELL_BUDGET``;
    padding is chunk-local, results stay bit-identical (asserted by
    tests/test_kernel_lev.py)."""
    sizes = [(len(windows), max(en - st for st, en in windows))
             for _, windows, _ in tasks]
    out: list[np.ndarray] = []
    start = 0
    while start < len(tasks):
        end, width, wmax = start, 0, 0
        while end < len(tasks):
            w, m = sizes[end]
            n_width, n_wmax = width + w, max(wmax, m)
            if end > start and n_width * n_wmax > _MULTI_CELL_BUDGET:
                break
            width, wmax = n_width, n_wmax
            end += 1
        out.extend(_window_sims_multi_impl(tasks[start:end]))
        start = end
    return out


def _window_sims_multi_impl(tasks) -> list[np.ndarray]:
    """One bit-parallel scan over the pooled windows of MANY (s1, windows,
    s2) tasks — the cross-pair batching of :func:`_window_sims` used by
    ``cdist_partial_ratio`` (one 64-step loop per cdist call instead of one
    per pair).  Lanes are padded to the chunk's max window length with zero
    masks (no-op steps), so every lane computes exactly what its
    single-task call would: bit-identical results, asserted by
    tests/test_kernel_lev.py.

    Requires every task to have ``1 <= len(s1) <= 64`` and non-empty
    windows (callers route the rest through :func:`_window_sims`)."""
    per = [(_window_mask(s1, windows, s2), len(s1))
           for s1, windows, s2 in tasks]
    widths = [m.shape[0] for (m, _), _ in per]
    total = sum(widths)
    maxlen = max(m.shape[1] for (m, _), _ in per)
    big = np.zeros((total, maxlen), dtype=np.uint64)
    lens = np.empty(total, dtype=np.int64)
    n1 = np.empty(total, dtype=np.int64)
    off = 0
    for ((midx, wlens), n), w in zip(per, widths):
        big[off:off + w, :midx.shape[1]] = midx
        lens[off:off + w] = wlens
        n1[off:off + w] = n
        off += w
    S = np.full(total, np.uint64(0xFFFFFFFFFFFFFFFF), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for t in range(maxlen):
            u = S & big[:, t]
            S = (S + u) | (S - u)
    lcs = np.unpackbits((~S).view(np.uint8).reshape(total, 8),
                        axis=1).sum(axis=1).astype(np.float64)
    dist = n1 + lens - 2.0 * lcs
    sims = 1.0 - dist / (n1 + lens)
    out, off = [], 0
    for w in widths:
        out.append(sims[off:off + w])
        off += w
    return out


def _partial_ratio_impl(s1: str, s2: str) -> ScoreAlignment:
    """Core windowed scan; requires ``len(s1) <= len(s2)`` and ``s1`` non-empty.

    Window set and update rule follow the published partial_ratio contract:
    candidate windows are all prefixes of s2 shorter than |s1|, every
    |s1|-length substring, and all suffixes shorter than |s1|; a window is
    only examined when its boundary character occurs in s1 (it cannot beat
    the previous window otherwise); the best score wins with *strict*
    improvement, so the earliest maximal window determines the alignment —
    the determinism the reference's span arithmetic relies on
    (align.py:208-211).
    """
    len1 = len(s1)
    windows = _pr_windows(s1, s2)
    if not windows:
        return ScoreAlignment(0.0, 0, len1, 0, len1)
    sims = _window_sims(s1, windows, s2)
    sc, ss, se, ds, de = _best_window(windows, sims, len1)
    return ScoreAlignment(sc, ss, se, ds, de)


def _pr_windows(s1: str, s2: str) -> list[tuple[int, int]]:
    """Candidate windows of the partial_ratio contract (see
    :func:`_partial_ratio_impl`); requires ``len(s1) <= len(s2)``."""
    len1, len2 = len(s1), len(s2)
    charset = set(s1)
    windows: list[tuple[int, int]] = []
    for i in range(1, len1):                      # prefixes, gate: last char
        if s2[i - 1] in charset:
            windows.append((0, i))
    for i in range(0, len2 - len1 + 1):           # full windows, gate: last char
        if s2[i + len1 - 1] in charset:
            windows.append((i, i + len1))
    for i in range(len2 - len1 + 1, len2):        # suffixes, gate: first char
        if s2[i] in charset:
            windows.append((i, len2))
    return windows


def _best_window(windows, sims, len1: int):
    """First-strictly-best window scan -> result tuple (score 0-100,
    src_start, src_end, dest_start, dest_end)."""
    best = 0.0
    ds, de = 0, len1
    for (st, en), sim in zip(windows, sims):
        if sim > best:
            best = float(sim)
            ds, de = st, en
            if best == 1.0:
                break
    return (best * 100.0, 0, len1, ds, de)


_PR_CACHE: "dict[tuple[str, str], tuple]" = {}
_PR_CACHE_MAX = 4096


def _pr_cache_put(key, val) -> None:
    _PR_CACHE[key] = val
    if len(_PR_CACHE) > _PR_CACHE_MAX:
        # drop the oldest insertion (dicts preserve order) — cheap
        # near-LRU without per-hit reordering
        _PR_CACHE.pop(next(iter(_PR_CACHE)))


def _partial_ratio_cached(s1: str, s2: str):
    """Memoized windowed scan as an IMMUTABLE tuple (score, src_start,
    src_end, dest_start, dest_end).

    The subseg kernel scores the same (needle, seg2) pair twice with
    identical strings — once in the coarse ``cdist_partial_ratio`` gate
    (align.py:181-184) and again in the exact ``partial_ratio_alignment``
    pass (align.py:205) — so memoizing halves the windows work; the coarse
    gate also inserts its batched results here (``_pr_cache_put``).
    Callers MUTATE their ``ScoreAlignment`` (span clamping, subseg.py),
    hence the tuple: every caller constructs a fresh object."""
    key = (s1, s2)
    val = _PR_CACHE.get(key)
    if val is None:
        r = _partial_ratio_impl(s1, s2)
        val = (r.score, r.src_start, r.src_end, r.dest_start, r.dest_end)
        _pr_cache_put(key, val)
    return val


def partial_ratio(s1: str, s2: str) -> float:
    """``fuzz.partial_ratio`` equivalent on the 0–100 scale (align.py:6,181)."""
    return partial_ratio_alignment(s1, s2).score


def partial_ratio_alignment(s1: str, s2: str, processor=None) -> ScoreAlignment:
    """``fuzz.partial_ratio_alignment`` equivalent (align.py:6,205-211).

    Returns score plus source/destination spans.  Swap semantics: the shorter
    string is always the needle; if swapped, src/dest fields are swapped back.
    For equal lengths a second pass with roles reversed is taken when it
    strictly improves the score (published rapidfuzz behavior).
    """
    if processor is not None:
        s1 = processor(s1)
        s2 = processor(s2)
    len1, len2 = len(s1), len(s2)
    if len1 == 0 and len2 == 0:
        return ScoreAlignment(100.0, 0, 0, 0, 0)
    if len1 == 0 or len2 == 0:
        return ScoreAlignment(0.0, 0, len1, 0, min(len1, len2))
    if len1 <= len2:
        res = ScoreAlignment(*_partial_ratio_cached(s1, s2))
    else:
        sc, ss, se, ds, de = _partial_ratio_cached(s2, s1)
        res = ScoreAlignment(sc, ds, de, ss, se)
    if res.score != 100.0 and len1 == len2:
        sc, ss, se, ds, de = _partial_ratio_cached(s2, s1)
        if sc > res.score:
            res = ScoreAlignment(sc, ds, de, ss, se)
    return res
