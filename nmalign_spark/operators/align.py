"""The core distributed operator: per-document forced fuzzy alignment.

Spark mapping of SURVEY.md §2.3 J3-J6 + §2.10 U1: the reference's
``match(l1, l2)`` (align.py:17-166) runs *inside* an Arrow-vectorized kernel,
one document per group; everything around it is Catalyst-native.

Entry points, all on one core (:func:`align_lists_rows`):

* :func:`align_pages` — hot path.  Input is the wide pages table (one row per
  url), so alignment is a **narrow** ``mapInPandas``: scan -> kernel -> rows,
  zero shuffles.  At 100 TB this is embarrassingly parallel; per-task cost is
  bounded by ``spark.sql.files.maxPartitionBytes``, and giant pages can be
  split off first via :func:`route_skew` (salted path, operators/salt.py).
* :func:`align_segments` — long-form input (url, side, seq_no, seg_text),
  e.g. from external segmenters.  One hash repartition on url into
  :func:`_kernel_partitions` partitions, an in-partition sort, and a
  streaming ``mapInPandas`` that aligns many urls per Arrow batch.
* :func:`align_cogrouped` — two tables (candidates, references) tagged
  side 1/2 and unioned into the long form for :func:`align_segments`.

Output schema (exploded assignment table, SURVEY.md §1.1):
``(url, i, j, line_no, beg, end, score, seg_text, extracted)`` where ``i``
indexes candidate segments, ``j`` the *filtered* reference lines (the list
the kernel saw, matching reference semantics after the empty-line filter
ocrd/cli.py:219-226), ``line_no`` the original line in ``text``, ``beg/end``
the sub-span when split (−1/−1 whole line, align.py:68-74), and ``extracted``
is ``l2[j][beg:end]`` — the byte-identical extraction target
(scripts/cli.py:103-106; ocrd/cli.py:260-263).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..kernel.assign import match
from ..sources.segments import extract_segments, nonempty_lines, reference_lines

__all__ = ["ALIGN_SCHEMA", "align_pages", "align_segments",
           "align_cogrouped", "route_skew", "align_lists_rows"]

ALIGN_SCHEMA = ("url string, i int, j int, line_no int, beg int, end int, "
                "score double, seg_text string, extracted string")
_COLS = ["url", "i", "j", "line_no", "beg", "end", "score", "seg_text", "extracted"]


def _passthrough_schema(schema: str, df, passthrough) -> str:
    """``schema`` extended by ``df``'s types of the ``passthrough`` columns."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return ", ".join([schema, *(f"{c} {types[c]}" for c in passthrough)])


def _kernel_partitions(df) -> int:
    """Partition count of every shuffle that feeds a Python alignment
    kernel: one per core of the session (``defaultParallelism``).

    AQE sizes partitions by bytes, and kernel input rows are tiny while
    their kernel CPU is huge: on sf0.1 it folded ``align_segments`` onto
    one core (16.7 s vs 1.5 s).  More partitions than cores cost too,
    because every Arrow Python task pays a fixed executor-time toll even
    when it holds no work (PLANS.md, "AQE and compute-bound Python
    stages")."""
    return df.sparkSession.sparkContext.defaultParallelism


def align_lists_rows(url: str, l1: list[str], l2: list[str], line_nos: list[int],
                     normalization=None, cutoff=None, try_subseg=True,
                     dist=None) -> list[tuple]:
    """Run the kernel on one document's lists and explode to output rows.

    ``dist`` optionally injects the precomputed similarity matrix (the
    batched-across-documents scoring path, kernel/lev.py
    ``cdist_levenshtein_many``)."""
    if not l1 or not l2:
        return [(url, i, -1, -1, -1, -1, 0.0, seg, None)
                for i, seg in enumerate(l1)]
    result, scores = match(l1, l2, normalization=normalization,
                           cutoff=cutoff, try_subseg=try_subseg, dist=dist)
    if try_subseg:
        idx, beg, end = result
    else:
        idx = result
        beg = end = np.full_like(idx, -1)
    rows: list[tuple] = []
    for i, seg in enumerate(l1):
        j = int(idx[i])
        b, e = int(beg[i]), int(end[i])
        if j < 0:
            rows.append((url, i, -1, -1, -1, -1, 0.0, seg, None))
            continue
        line = l2[j]
        extracted = line[b:e] if b >= 0 else line
        rows.append((url, i, j, int(line_nos[j]), b, e, float(scores[i]),
                     seg, extracted))
    return rows


def _batched_doc_rows(docs, normalization, cutoff, try_subseg) -> list[list[tuple]]:
    """Align many documents: ONE flat similarity-matrix pass for the whole
    batch (north_star: "similarity-matrix stage batched across documents to
    keep executors saturated"), then the sequential assignment per document
    with its matrix injected.  ``docs`` = [(url, l1, l2, line_nos)];
    returns per-document row lists (same values as unbatched calls —
    tests/test_align_spark.py::test_batched_doc_rows_equal_per_page_rows
    asserts equality)."""
    from ..functions.normalize import make_preprocessor
    from ..kernel.lev import cdist_levenshtein_many
    preprocess = make_preprocessor(normalization)
    scorable = [k for k, (_, l1, l2, _) in enumerate(docs) if l1 and l2]
    mats = cdist_levenshtein_many([(docs[k][1], docs[k][2]) for k in scorable],
                                  score_cutoff=cutoff, processor=preprocess)
    dist_of = dict(zip(scorable, mats))
    return [align_lists_rows(url, l1, l2, line_nos, normalization, cutoff,
                             try_subseg, dist=dist_of.get(k))
            for k, (url, l1, l2, line_nos) in enumerate(docs)]


def _make_pages_kernel(normalization, cutoff, try_subseg, passthrough=()):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            extras = [pdf[c] for c in passthrough]
            docs = []
            for url, html_b, text in zip(pdf["url"], pdf["html"], pdf["text"]):
                l1 = extract_segments(html_b)
                l2, line_nos = reference_lines(text)
                docs.append((url, l1, l2, line_nos))
            per_doc = _batched_doc_rows(docs, normalization, cutoff, try_subseg)
            rows: list[tuple] = []
            for k, page_rows in enumerate(per_doc):
                if passthrough:
                    tail = tuple(col.iloc[k] for col in extras)
                    page_rows = [r + tail for r in page_rows]
                rows.extend(page_rows)
            yield pd.DataFrame(rows, columns=_COLS + list(passthrough))
    return kernel


def align_pages(pages_df, normalization=None, cutoff=None, try_subseg=True,
                passthrough=()):
    """pages (url, warc_ts, html, text, lang) -> alignment table.

    Narrow plan: the projection to (url, html, text) is pushed into the scan
    (column pruning), the kernel is one ``mapInPandas``, no shuffle.

    ``passthrough`` names extra pages columns copied onto every output row
    (e.g. warc_ts/lang for partitioned writes) — carrying them through the
    kernel costs nothing and avoids a full-table join-back shuffle later.
    """
    passthrough = tuple(passthrough)
    return pages_df.select("url", "html", "text", *passthrough).mapInPandas(
        _make_pages_kernel(normalization, cutoff, try_subseg, passthrough),
        schema=_passthrough_schema(ALIGN_SCHEMA, pages_df, passthrough))


def _group_to_doc(pdf: pd.DataFrame):
    """One url's sorted segment rows -> (url, l1, l2, line_nos)."""
    url = pdf["url"].iloc[0]
    p1 = pdf[pdf["side"] == 1].sort_values("seq_no")
    p2 = pdf[pdf["side"] == 2].sort_values("seq_no")
    l2, line_nos = nonempty_lines(p2["seg_text"].tolist(),
                                  p2["seq_no"].tolist())
    return url, p1["seg_text"].tolist(), l2, line_nos


def _make_segments_stream_kernel(normalization, cutoff, try_subseg):
    """Streaming many-groups-per-batch kernel.

    ``applyInPandas`` pays ~ms-level per-group overhead (one pandas frame +
    one Arrow slice per group) — ruinous for millions of small documents.
    Instead the partition arrives hash-partitioned by url and sorted
    (url, side, seq_no); this kernel walks the Arrow batches, holds back the
    possibly-incomplete trailing url of each batch, and processes complete
    groups with a plain pandas groupby — one Python call per BATCH, not per
    document."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None

        def process(chunk: pd.DataFrame) -> pd.DataFrame:
            docs = [_group_to_doc(g)
                    for _, g in chunk.groupby("url", sort=False)]
            per_doc = _batched_doc_rows(docs, normalization, cutoff,
                                        try_subseg)
            rows = [r for page_rows in per_doc for r in page_rows]
            return pd.DataFrame(rows, columns=_COLS)

        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
            last_url = pdf["url"].iloc[-1] if len(pdf) else None
            mask = pdf["url"] == last_url
            pending = pdf[mask]
            done = pdf[~mask]
            if len(done):
                yield process(done)
        if pending is not None and len(pending):
            yield process(pending)
    return kernel


def align_segments(segments_df, normalization=None, cutoff=None,
                   try_subseg=True):
    """Long-form segments (url, side, seq_no, seg_text) -> alignment table.

    One hash shuffle on url + in-partition sort; the kernel is a streaming
    ``mapInPandas`` that handles many documents per Arrow batch (see
    ``_make_segments_stream_kernel`` — grouped-map per-group overhead does
    not scale to millions of small groups).  The shuffle is pinned to
    :func:`_kernel_partitions` partitions (``repartition(n, "url")``)
    instead of letting AQE pick.
    """
    parts = segments_df.repartition(_kernel_partitions(segments_df), "url") \
        .sortWithinPartitions("url", "side", "seq_no")
    return parts.mapInPandas(
        _make_segments_stream_kernel(normalization, cutoff, try_subseg),
        schema=ALIGN_SCHEMA)


def align_cogrouped(candidates_df, references_df, normalization=None,
                    cutoff=None, try_subseg=True):
    """Two-table input shape: candidates (url, seq_no, seg_text) and
    references (url, seq_no, seg_text), for when the two sides live in
    different tables (e.g. OCR output vs ground-truth collections).

    The tables are tagged side 1/2 and unioned into the long segments form,
    so the alignment is :func:`align_segments`' streaming kernel: the same
    rows as :func:`align_lists_rows` on each url's two lists
    (tests/test_align_spark.py)."""
    def tagged(df, side):
        return df.select("url", F.lit(side).alias("side"), "seq_no",
                         "seg_text")
    return align_segments(
        tagged(candidates_df, 1).unionByName(tagged(references_df, 2)),
        normalization=normalization, cutoff=cutoff, try_subseg=try_subseg)


def route_skew(pages_df, giant_chars: int = 20_000):
    """Split pages into (normal, giant) DataFrames by kernel-cost proxy.

    The alignment kernel is O(N·M·L) per url (SURVEY.md §4 custom-work #1):
    one giant page can dominate a task.  Cost proxy = length(text) (N·M grows
    quadratically with it, so a char threshold is a stable cost threshold).
    Callers union the two aligned outputs.  The giant branch keeps its
    input layout: the salted path (operators/salt.py) spreads its matrix
    chunks with its own shuffle.
    """
    cost = F.length(F.col("text"))
    return pages_df.where(cost < giant_chars), pages_df.where(cost >= giant_chars)
