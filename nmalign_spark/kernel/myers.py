"""Bit-parallel Levenshtein distance (Myers 1999), batch-vectorized.

This is the hot path of alignment: the reference computes a full N×M
matrix of Levenshtein distances per document (``cdist`` at align.py:60-61
of bertsky/nmalign, delegated to SIMD C++).  Here the same work is done
with Myers' O(⌈|a|/64⌉·|b|) bit-parallel recurrence, vectorized with NumPy.
Every caller goes through one flat pass, :func:`myers_cdist_many`:

* it scores *every* (query, choice) pair of a whole Arrow batch at once,
  whatever the line lengths, so no document leaves the batched pass;
* pairs are bucketed by the query's word count ``W = ceil(len/64)``; each
  bucket keeps ``(W, P)`` uint64 state and runs one Python loop over
  choice columns;
* a bucket's pairs are sorted by choice length, longest first, so the
  pairs still live at a column are a prefix of the state and a finished
  pair leaves the loop without a gather;
* choices are held as one concatenated vocabulary-index vector plus
  per-choice offsets, never padded to the batch's longest choice;
* each document has its own vocabulary of query chars, so a query's
  bitmask row is as wide as its document's alphabet, not the batch's.

:func:`myers_cdist`, the dense single-document call (the giant's chunks on
the salted path, ``match()`` without an injected matrix), is that pass
over one document.

Multi-word carries (the addition, the shifts) are propagated explicitly
per Hyyrö's blocks, so arbitrarily long lines work.

The algorithm is public (G. Myers, "A fast bit-vector algorithm for
approximate string matching based on dynamic programming", JACM 46(3), 1999;
multi-word blocks per Hyyrö 2003).  Distances are exact uniform-cost
Levenshtein — verified against the scalar DP oracle by hypothesis tests.
"""

from __future__ import annotations

import numpy as np

__all__ = ["myers_cdist", "myers_cdist_many"]

_ONE = np.uint64(1)
_SIX3 = np.uint64(63)
_FULL = np.uint64(0xFFFFFFFFFFFFFFFF)


def myers_cdist(queries: list[str], choices: list[str]) -> np.ndarray:
    """Exact Levenshtein distance matrix (N, M) int32 for two string lists:
    the flat pass of :func:`myers_cdist_many` over one document."""
    return myers_cdist_many([(queries, choices)])[0]


def myers_cdist_many(doc_pairs: list[tuple[list[str], list[str]]]
                     ) -> list[np.ndarray]:
    """Block-diagonal batched cdist: one distance matrix per (l1, l2) pair.

    The per-document matrices are tiny (tens of rows), so per-document
    NumPy calls are overhead-bound; this flattens every intra-document
    (query, choice) pair of the whole batch, of every line length, into
    one flat pass (north_star: "the similarity-matrix stage batched across
    documents to keep executors saturated").  The choices of the batch are
    stored as one concatenated vocabulary-index vector plus per-choice
    offsets, so a single long reference line costs its own length, not
    the batch's choice count times its length.

    Returns exact uniform-cost Levenshtein matrices (asserted against the
    scalar DP oracle by tests/test_kernel_myers.py).
    """
    out = [np.empty((len(qs), len(cs)), dtype=np.int32)
           for qs, cs in doc_pairs]
    scored = [d for d, (qs, cs) in enumerate(doc_pairs) if qs and cs]
    if not scored:
        return out
    dists = _myers_flat([q for d in scored for q in doc_pairs[d][0]],
                        [c for d in scored for c in doc_pairs[d][1]],
                        np.array([out[d].shape for d in scored]))
    off = 0
    for d in scored:
        out[d][:] = dists[off:off + out[d].size].reshape(out[d].shape)
        off += out[d].size
    return out


def _codes(texts: list[str]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Code points of all ``texts`` concatenated, each text's offset into
    them, and its length."""
    lens = np.fromiter(map(len, texts), dtype=np.int64, count=len(texts))
    offs = np.zeros(len(texts), dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    codes = np.frombuffer("".join(texts).encode("utf-32-le"), dtype=np.uint32)
    return codes, offs, lens


def _tables(q_texts: list[str], c_texts: list[str],
            nq: np.ndarray, nc: np.ndarray) -> tuple[tuple, tuple]:
    """The query and choice tables of the flat pass, with one vocabulary
    per document (``nq[d]`` queries and ``nc[d]`` choices each).

    Returns ``(la, q_off, q_idx, q_width)`` and ``(lb, c_off, c_idx)``:
    lengths, offsets into the concatenated chars, each char's index in its
    document's vocabulary of query chars, and per query the width of its
    bitmask row, that vocabulary's size plus one.  A choice char that no
    query of its document has gets that last slot.  Rows as wide as the
    document's vocabulary, not the batch's, keep the bitmask table small
    when a batch mixes scripts."""
    q_codes, q_off, la = _codes(q_texts)
    c_codes, c_off, lb = _codes(c_texts)
    docs = np.arange(len(nq))
    # (document, code point) keys; code points are < 2**21
    q_key = np.repeat(np.repeat(docs, nq), la)
    q_key <<= 21
    q_key |= q_codes
    vocab, q_idx = np.unique(q_key, return_inverse=True)
    v0 = np.searchsorted(vocab, docs << 21)     # each document's first key
    vn = np.diff(np.append(v0, len(vocab)))
    q_idx -= v0[q_key >> 21]
    c_doc = np.repeat(np.repeat(docs, nc), lb)
    c_key = c_doc << 21
    c_key |= c_codes
    c_idx = vn[c_doc]
    if len(vocab):
        rank = np.minimum(np.searchsorted(vocab, c_key), len(vocab) - 1)
        hit = vocab[rank] == c_key
        c_idx[hit] = rank[hit] - v0[c_doc[hit]]
    return (la, q_off, q_idx, np.repeat(vn + 1, nq)), (lb, c_off, c_idx)


def _myers_flat(q_texts: list[str], c_texts: list[str],
                shapes: np.ndarray) -> np.ndarray:
    """Distances of every document's (query, choice) pairs, documents in
    order, each row-major; document d owns the next ``shapes[d, 0]``
    queries and ``shapes[d, 1]`` choices of the two lists."""
    nq, nc = shapes[:, 0], shapes[:, 1]
    queries, choices = _tables(q_texts, c_texts, nq, nc)
    la, lb = queries[0], choices[0]
    # the flat pair index: pair k of document d is (query q0 + k // nc,
    # choice c0 + k % nc)
    sizes = nq * nc
    doc = np.repeat(np.arange(len(shapes)), sizes)
    k = np.arange(doc.size) - np.repeat(np.cumsum(sizes) - sizes, sizes)
    pq = (np.cumsum(nq) - nq)[doc] + k // nc[doc]
    pc = (np.cumsum(nc) - nc)[doc] + k % nc[doc]
    del doc, k              # pair-sized arrays set the peak: drop them early
    # by word count W, then longest choice first: each bucket is a run of
    # this order, and within it the pairs live at a column are a prefix
    w = (la[pq] + 63) // 64
    w[lb[pc] == 0] = 0
    order = np.lexsort((-lb[pc], w))
    pq, pc, w = pq[order], pc[order], w[order]
    # a pair with an empty side costs the other side's length
    dist = (la[pq] + lb[pc]).astype(np.int32)
    words = np.unique(w[w > 0])
    bounds = np.searchsorted(w, np.append(words, words[-1:] + 1))
    del w
    for W, lo, hi in zip(words, bounds[:-1], bounds[1:]):
        dist[lo:hi] = _myers_bucket(int(W), pq[lo:hi], pc[lo:hi],
                                    queries, choices)
    out = np.empty_like(dist)
    out[order] = dist
    return out


def _bitmasks(W: int, uq: np.ndarray, queries: tuple
              ) -> tuple[np.ndarray, np.ndarray]:
    """Pattern bitmasks of the queries ``uq``: ``peq[w, row[i] + v]`` holds
    the bits of word w where query ``uq[i]`` has vocabulary char v."""
    la, q_off, q_idx, q_width = queries
    ql, width = la[uq], q_width[uq]
    row = np.cumsum(width) - width
    q_rep = np.repeat(np.arange(len(uq)), ql)
    pos = np.arange(q_rep.size) - np.repeat(np.cumsum(ql) - ql, ql)
    chars = q_idx[np.repeat(q_off[uq], ql) + pos]
    peq = np.zeros((W, int(width.sum())), dtype=np.uint64)
    np.bitwise_or.at(peq, (pos >> 6, row[q_rep] + chars),
                     _ONE << (pos & 63).astype(np.uint64))
    return peq, row


def _myers_bucket(W: int, pq: np.ndarray, pc: np.ndarray,
                  queries: tuple, choices: tuple) -> np.ndarray:
    """Distances of the pairs ``(pq, pc)``, whose queries all span ``W``
    words and whose choices are non-empty, sorted longest first
    (``queries`` and ``choices`` as returned by :func:`_tables`)."""
    lb, c_off, c_idx = choices
    uq, q_loc = np.unique(pq, return_inverse=True)
    peq, row = _bitmasks(W, uq, queries)
    qbase = row[q_loc]
    score = queries[0][pq].astype(np.int32)
    hb = _ONE << ((score - 1).astype(np.uint64) & _SIX3)
    del q_loc
    cur = c_off[pc]                         # each pair's next choice char
    steps = int(lb[pc[0]])
    n_live = np.searchsorted(-lb[pc], -np.arange(1, steps + 1))
    pv = np.full((W, len(pq)), _FULL, dtype=np.uint64)
    mv = np.zeros((W, len(pq)), dtype=np.uint64)
    n = len(pq)
    for j in range(steps):
        key = c_idx[cur[:n]]
        key += qbase[:n]
        eq = peq[:, key]                                    # (W, n)
        pvn = pv[:, :n]
        mvn = mv[:, :n]
        # Xh = (((Eq & Pv) + Pv) ^ Pv) | Eq with the add carried across words
        xh = eq & pvn
        xh += pvn
        if W > 1:
            carry = xh < pvn
            for w in range(1, W):
                xh[w] += carry[w - 1]
                carry[w] |= carry[w - 1] & (xh[w] == 0)
        xh ^= pvn
        xh |= eq
        # Ph = Mv | ~(Xh | Pv), Mh = Pv & Xh
        ph = xh | pvn
        np.invert(ph, out=ph)
        ph |= mvn
        mh = np.bitwise_and(pvn, xh, out=xh)
        # every query's high bit sits in the last word (W = ceil(la/64))
        score[:n] += (ph[W - 1] & hb[:n]) != 0
        score[:n] -= (mh[W - 1] & hb[:n]) != 0
        # shift left across words: Ph shifts in 1, Mh shifts in 0
        if W > 1:
            ph_out = ph[:-1] >> _SIX3
            mh_out = mh[:-1] >> _SIX3
        ph <<= _ONE
        ph[0] |= _ONE
        mh <<= _ONE
        if W > 1:
            ph[1:] |= ph_out
            mh[1:] |= mh_out
        # Pv = Mh | ~(Xv | Ph), Mv = Ph & Xv with Xv = Eq | Mv
        xv = np.bitwise_or(eq, mvn, out=eq)
        np.bitwise_and(ph, xv, out=mvn)
        xv |= ph
        np.invert(xv, out=xv)
        np.bitwise_or(mh, xv, out=pvn)
        # a pair whose choice ends at column j keeps its final score
        cur[:n] += 1
        n = n_live[j]
    return score
