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
The partial-ratio windows are scored the same way: one pooled pass of the
bit-parallel LCS recurrence over every (needle, window) lane of a call,
whatever the needle length, with kernel/myers.py's bitmask tables
(:func:`_window_sims_multi`).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .myers import _FULL, _bitmasks, _tables

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

    Batching: the windows of ALL uncached pairs, whatever the needle
    length, are scored in ONE pooled bit-parallel pass
    (:func:`_window_sims_multi`; more only when their state would exceed
    ``_MULTI_CELL_BUDGET``), then a second pooled pass scores the
    equal-length reversed orientations that the partial_ratio swap rule
    requires.  Results (identical to the per-pair path, asserted in
    tests/test_kernel_lev.py) are held in a call-local dict — immune to
    ``_PR_CACHE`` evictions when a call has more pairs than the cache cap —
    and also inserted into the cache so the exact
    ``partial_ratio_alignment`` phase of the subseg kernel reuses them.
    """
    if processor is not None:
        queries = [processor(s) for s in queries]
        choices = [processor(s) for s in choices]

    local: dict[tuple[str, str], tuple] = {}

    def batch_compute(keys) -> None:
        """Score the (needle, haystack) keys in one pooled pass, all but
        those already known from this call or the cache."""
        todo = []
        for k in keys:
            if k in local:
                continue
            cached = _PR_CACHE.get(k)
            if cached is not None:
                local[k] = cached
            else:
                todo.append(k)
        for k, val in zip(todo, _scan(todo)):
            local[k] = val
            _pr_cache_put(k, val)

    # orientation per pair (the partial_ratio swap rule): needle = shorter
    pairs = [(q, c) for q in queries for c in choices]
    batch_compute({(q, c) if len(q) <= len(c) else (c, q)
                   for q, c in pairs if q and c})
    # equal-length second orientation, needed when the first scan is < 100
    batch_compute({(c, q) for q, c in pairs
                   if q and c and len(q) == len(c)
                   and local[(q, c)][0] != 100.0})

    def score_pair(q: str, c: str) -> float:
        # partial_ratio_alignment's swap rule, read from the local results
        lq, lc = len(q), len(c)
        if lq == 0 and lc == 0:
            return 100.0
        if lq == 0 or lc == 0:
            return 0.0
        sc = local[(q, c) if lq <= lc else (c, q)][0]
        if sc != 100.0 and lq == lc:
            sc = max(sc, local[(c, q)][0])
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

def _window_sims_multi(tasks) -> list[np.ndarray]:
    """One bit-parallel LCS pass over the windows of many ``(s1, windows,
    s2)`` tasks, whatever the needle lengths.

    Each window is a lane that runs the classic recurrence over its
    characters c — ``u = S & M[c]; S = (S + u) | (S - u)``, LCS =
    popcount(~S) — and the Indel similarity follows from ``|a|+|b| -
    2*LCS``.  Lanes are bucketed by their needle's word count W =
    ⌈len(s1)/64⌉ (:func:`_lcs_bucket`).  The needle bitmasks come from
    kernel/myers.py's ``_tables``/``_bitmasks``, with each needle a query,
    its haystack a choice, and one vocabulary per task."""
    nwin = np.fromiter((len(w) for _, w, _ in tasks), dtype=np.int64,
                       count=len(tasks))
    win = np.array([w for _, ws, _ in tasks for w in ws],
                   dtype=np.int64).reshape(-1, 2)
    lane_task = np.repeat(np.arange(len(tasks)), nwin)
    wlen = win[:, 1] - win[:, 0]
    ones = np.ones(len(tasks), dtype=np.int64)
    queries, choices = _tables([t[0] for t in tasks], [t[2] for t in tasks],
                               ones, ones)
    n1 = queries[0][lane_task]
    words = (n1 + 63) // 64
    lcs = np.empty(len(win), dtype=np.int64)
    for W in np.unique(words):
        # longest window first: the lanes live at a step are a prefix
        lanes = np.flatnonzero(words == W)
        lanes = lanes[np.argsort(-wlen[lanes])]
        lcs[lanes] = _lcs_bucket(int(W), lane_task[lanes], win[lanes, 0],
                                 wlen[lanes], queries, choices)
    dist = n1 + wlen - 2.0 * lcs
    sims = 1.0 - dist / (n1 + wlen)
    return np.split(sims, np.cumsum(nwin)[:-1])


# the number of set bits of each byte value
_POP8 = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(
    axis=1, dtype=np.uint8)


def _lcs_bucket(W: int, task: np.ndarray, start: np.ndarray,
                wlen: np.ndarray, queries: tuple, choices: tuple
                ) -> np.ndarray:
    """LCS of each lane's needle, which spans ``W`` words, with its window
    of ``wlen`` haystack chars from ``start``; lanes sorted longest window
    first (``queries`` and ``choices`` as returned by ``myers._tables``)."""
    lb, c_off, c_idx = choices
    uq = np.unique(task)
    peq, row = _bitmasks(W, uq, queries)
    # each haystack char's column in its needle's bitmask row
    base = np.zeros(len(lb), dtype=np.int64)
    base[uq] = row
    col = c_idx + np.repeat(base, lb)
    cur = c_off[task] + start                # each lane's next window char
    steps = int(wlen[0])
    n_live = np.searchsorted(-wlen, -np.arange(1, steps + 1))
    S = np.full((W, len(task)), _FULL, dtype=np.uint64)
    n = len(task)
    for j in range(steps):
        s = S[:, :n]
        u = peq[:, col[cur[:n]]]                            # (W, n)
        u &= s
        # S = (S + u) | (S - u); u ⊆ S, so S - u borrows nothing, and
        # only the addition carries across words
        d = s - u
        s += u
        if W > 1:
            carry = s < u
            for w in range(1, W):
                s[w] += carry[w - 1]
                carry[w] |= carry[w - 1] & (s[w] == 0)
        s |= d
        cur[:n] += 1
        n = n_live[j]
    # LCS = popcount(~S) over the lane's words; the bits above the needle
    # stay set, so only the needle's bits count
    pop = _POP8[(~S).view(np.uint8)]                        # (W, 8 lanes)
    return pop.reshape(W, len(task), 8).sum(axis=(0, 2), dtype=np.int64)


def _pr_windows(s1: str, s2: str) -> list[tuple[int, int]]:
    """Candidate windows of the partial_ratio contract; requires
    ``len(s1) <= len(s2)``.

    Window set and update rule follow the published partial_ratio
    contract: candidate windows are all prefixes of s2 shorter than |s1|,
    every |s1|-length substring, and all suffixes shorter than |s1|; a
    window is only examined when its boundary character occurs in s1 (it
    cannot beat the previous window otherwise); the best score wins with
    *strict* improvement (:func:`_best_window`), so the earliest maximal
    window determines the alignment — the determinism the reference's span
    arithmetic relies on (align.py:208-211).
    """
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


_MULTI_CELL_BUDGET = 1 << 18        # (W, lanes) state words per pooled pass


def _chunks(keys):
    """The ``(s1, windows, s2)`` tasks of the (needle, haystack) ``keys``,
    in chunks whose state words stay under ``_MULTI_CELL_BUDGET`` (2 MB).

    A pooled pass holds W = ⌈len(s1)/64⌉ state words per window plus a few
    per-window index vectors and step temporaries, and a task's window list
    lives until its chunk is scored, so many needles against a long
    haystack (the SUBSEG_ACC_MIN=0 gate selects every line) are scored a
    chunk at a time.  Every window is scored on its own lane, so results
    do not depend on the chunking (asserted by tests/test_kernel_lev.py)."""
    tasks, words = [], 0
    for s1, s2 in keys:
        windows = _pr_windows(s1, s2)
        cost = -(-len(s1) // 64) * len(windows)
        if tasks and words + cost > _MULTI_CELL_BUDGET:
            yield tasks
            tasks, words = [], 0
        tasks.append((s1, windows, s2))
        words += cost
    if tasks:
        yield tasks


def _scan(keys) -> list[tuple]:
    """Result tuples of the (needle, haystack) ``keys``, each needle no
    longer than its haystack: the windows of all keys in pooled passes."""
    return [_best_window(windows, sims, len(s1))
            for tasks in _chunks(keys)
            for (s1, windows, _), sims in zip(tasks, _window_sims_multi(tasks))]


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
    src_end, dest_start, dest_end); requires ``len(s1) <= len(s2)``.

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
        val = _scan([key])[0]
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
