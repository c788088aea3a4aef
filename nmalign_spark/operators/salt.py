"""Skew salting: matrix-chunk parallel scoring for giant pages.

The alignment kernel is O(N·M·L) per url (SURVEY.md §4 custom-work #1;
BASELINE.json north_star: "skewed giant pages are salted and re-merged
deterministically").  One giant page — a 50k-line government dump among 1k-line
pages — pins an executor core for minutes while its 1000 siblings finish in
seconds.  The greedy assignment loop is inherently sequential per url
(align.py:79-166: each iteration's monotonicity frontier depends on all prior
picks), but the dominant cost, the N×M similarity matrix (align.py:60-61), is
embarrassingly parallel: every cell is a pure function of one (l1[i], l2[j])
pair (kernel/lev.py:198-222).  So the salted path:

1. **segment** (narrow ``mapInPandas``): giant page -> l1 segments + filtered
   l2 lines, l1 split into row chunks of ``chunk_rows``; one output row per
   chunk carrying its slice of l1 plus the full l2 (duplicated per chunk —
   the price of spreading the quadratic stage over tasks; linear in chunks).
2. **score** (``repartition(page_uid, chunk_id)`` into one partition per
   core + ``mapInPandas``): each task scores its chunks against full l2 with
   the SAME ``cdist_levenshtein`` the unsalted kernel uses, emitting each
   chunk's float32 rows as one binary cell (Arrow-friendly; no per-value
   Python).
3. **assemble** (``groupBy(page_uid).applyInPandas``): order chunks, stack
   the matrix and hand it to the shared core ``align_lists_rows(...,
   dist=...)``, which runs the sequential assignment once.  Output is
   **bit-identical** to the unsalted path — verified by tests/test_salt.py
   equality against ``align_pages``.

Scale notes (100 TB): only pages routed giant by the O(len(text)) cost proxy
(``route_skew`` in operators/align.py) pay the two extra shuffles; the
shuffle volume per giant is N×M×4 bytes of matrix + chunked strings, bounded
by chunking only truly-giant pages (the normal path stays shuffle-free).
``chunk_rows`` bounds per-task memory at chunk_rows×M×4 bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..functions.normalize import make_preprocessor
from ..kernel.lev import cdist_levenshtein
from ..sources.segments import extract_segments, reference_lines
from .align import (ALIGN_SCHEMA, _COLS, _kernel_partitions, _passthrough_schema,
                    align_lists_rows, align_pages, route_skew)

__all__ = ["align_pages_salted", "salted_align"]

_CHUNK_SCHEMA = ("page_uid long, url string, chunk_id int, "
                 "l1_chunk array<string>, l2 array<string>, line_nos array<int>")
_SCORED_SUFFIX = ", sim binary"


def _make_chunker(chunk_rows: int, passthrough=()):
    def chunker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["page_uid", "url", "chunk_id", "l1_chunk", "l2", "line_nos",
                *passthrough]
        for pdf in batches:
            out = []
            extras_cols = [pdf[c] for c in passthrough]
            for k, (uid, url, html_b, text) in enumerate(
                    zip(pdf["page_uid"], pdf["url"], pdf["html"], pdf["text"])):
                extras = tuple(col.iloc[k] for col in extras_cols)
                l1 = extract_segments(html_b)
                l2, line_nos = reference_lines(text)
                # a page without segments still gets one (empty) chunk, so
                # the assembler sees it
                for c in range(max(1, -(-len(l1) // chunk_rows))):
                    lo = c * chunk_rows
                    out.append((uid, url, c, l1[lo:lo + chunk_rows], l2,
                                line_nos) + extras)
            yield pd.DataFrame(out, columns=cols)
    return chunker


def _make_scorer(normalization, cutoff):
    def scorer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        preprocess = make_preprocessor(normalization)
        for pdf in batches:
            sims = []
            for l1c, l2 in zip(pdf["l1_chunk"], pdf["l2"]):
                m = cdist_levenshtein(list(l1c), list(l2), score_cutoff=cutoff,
                                      processor=preprocess)
                sims.append(np.ascontiguousarray(m, dtype=np.float32).tobytes())
            out = pdf.copy()
            out["sim"] = sims
            yield out
    return scorer


def _make_assembler(normalization, cutoff, try_subseg, passthrough=()):
    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("chunk_id")
        l2 = list(pdf["l2"].iloc[0])
        dist = np.vstack([
            np.frombuffer(b, dtype=np.float32).reshape(len(chunk), len(l2))
            for chunk, b in zip(pdf["l1_chunk"], pdf["sim"])])
        rows = align_lists_rows(
            pdf["url"].iloc[0], [s for chunk in pdf["l1_chunk"] for s in chunk],
            l2, list(pdf["line_nos"].iloc[0]), normalization, cutoff,
            try_subseg, dist=dist)
        extras = tuple(pdf[c].iloc[0] for c in passthrough)
        return pd.DataFrame([r + extras for r in rows],
                            columns=_COLS + list(passthrough))
    return assemble


def salted_align(giant_pages_df, normalization=None, cutoff=None,
                 try_subseg=True, chunk_rows: int = 256, passthrough=()):
    """Giant pages -> alignment table via chunked parallel matrix scoring.

    Chunks are keyed by a per-ROW ``page_uid`` (``monotonically_increasing_
    id``), never by url: two distinct giant rows can share a url (re-crawled
    page, different content), and stitching their matrix chunks together
    would silently diverge from ``align_pages`` — which processes every row
    independently.  The uid is internal plumbing; output carries url only,
    so duplicate-url corpora produce exactly the same multiset of rows as
    the unsalted path (tests/test_salt.py::test_duplicate_urls).

    ``passthrough`` columns ride along the chunk rows and reappear on every
    output row (same contract as ``align_pages``) — cheaper and
    duplicate-safe vs joining metadata back by url afterwards.

    The chunk-spreading shuffle is pinned to ``_kernel_partitions`` (one
    partition per core), like ``align_segments``: chunk rows are small in
    BYTES but huge in kernel CPU, and AQE's byte-based coalescing would
    fold the chunks back onto few cores and defeat the salting."""
    passthrough = tuple(passthrough)
    chunk_schema = _passthrough_schema(_CHUNK_SCHEMA, giant_pages_df,
                                       passthrough)
    pages = giant_pages_df.select("url", "html", "text", *passthrough) \
        .withColumn("page_uid", F.monotonically_increasing_id())
    chunks = pages.mapInPandas(
        _make_chunker(chunk_rows, passthrough), schema=chunk_schema)
    scored = chunks.repartition(_kernel_partitions(chunks), "page_uid",
                                "chunk_id").mapInPandas(
        _make_scorer(normalization, cutoff),
        schema=chunk_schema + _SCORED_SUFFIX)
    return scored.groupBy("page_uid").applyInPandas(
        _make_assembler(normalization, cutoff, try_subseg, passthrough),
        schema=_passthrough_schema(ALIGN_SCHEMA, giant_pages_df, passthrough))


def align_pages_salted(pages_df, normalization=None, cutoff=None,
                       try_subseg=True, giant_chars: int = 20_000,
                       chunk_rows: int = 256):
    """Production entry: normal pages on the shuffle-free narrow path,
    giants (cost proxy >= ``giant_chars`` chars of text) on the salted path;
    union of the two is the complete alignment table, bit-identical to
    running ``align_pages`` on everything."""
    normal, giants = route_skew(pages_df, giant_chars=giant_chars)
    fast = align_pages(normal, normalization=normalization, cutoff=cutoff,
                       try_subseg=try_subseg)
    slow = salted_align(giants, normalization=normalization, cutoff=cutoff,
                        try_subseg=try_subseg, chunk_rows=chunk_rows)
    return fast.unionByName(slow)
