"""Custom stateful streaming operator: incremental per-url alignment.

In a live crawl, a url's candidate segments (side 1) and reference lines
(side 2) need not arrive in the same micro-batch.  This operator
accumulates each url's rows in **grouped state across micro-batches**
(``applyInPandasWithState``) and runs the alignment kernel exactly once per
url, when the url's stream is complete:

* completion signal: a ``side = 0`` FLUSH marker row (the ingester appends
  one per url when its WARC record set is closed) — deterministic and
  testable with ``availableNow``;
* safety net for continuous deployments: ``stale_ms > 0`` switches on a
  processing-time timeout that flushes urls whose marker was lost, so state
  cannot grow without bound.  **Do not combine it with availableNow**:
  Spark keeps scheduling micro-batches to service potential timeouts and an
  availableNow query never terminates (measured: batchId grew past 165 with
  zero input rows).  Default is ``stale_ms = 0`` -> NoTimeout, which drains
  and terminates cleanly;
* state schema is three parallel arrays (sides/seqs/texts) — Arrow-friendly,
  no pickled Python objects.

Output rows are identical to the batch ``align_segments`` on the same
union of rows (tests/test_streaming_stateful.py drains two micro-batches
with the sides split across them and asserts equality).  Source-layout
gotcha: the parquet file source does NOT recurse into arbitrary
subdirectories — stage files flat in ``src_dir`` or in ``key=value``
partition dirs, or the stream silently reads zero rows.  At crawl scale the
state store is keyed by url and hash-partitioned; watermark/timeout bounds
its size exactly like any windowed agg.
"""

from __future__ import annotations

import pandas as pd

from ..operators.align import ALIGN_SCHEMA, _COLS, align_lists_rows
from ..sources.segments import nonempty_lines

SEGMENTS_TS_DDL = "url string, side int, seq_no int, seg_text string"
_STATE_DDL = "sides array<int>, seqs array<int>, texts array<string>"


def _make_stateful_kernel(normalization, cutoff, try_subseg, stale_ms: int):
    def fn(key, pdfs, state):
        url = key[0]
        if state.hasTimedOut:
            sides, seqs, texts = state.get
            state.remove()
            yield _emit(url, sides, seqs, texts,
                        normalization, cutoff, try_subseg)
            return
        sides: list[int] = []
        seqs: list[int] = []
        texts: list[str] = []
        if state.exists:
            s0, q0, t0 = state.get
            sides, seqs, texts = list(s0), list(q0), list(t0)
        flush = False
        for pdf in pdfs:
            for side, seq, text in zip(pdf["side"], pdf["seq_no"],
                                       pdf["seg_text"]):
                if int(side) == 0:
                    flush = True
                    continue
                sides.append(int(side))
                seqs.append(int(seq))
                texts.append("" if text is None else str(text))
        if flush:
            if state.exists:
                state.remove()
            yield _emit(url, sides, seqs, texts,
                        normalization, cutoff, try_subseg)
        else:
            state.update((sides, seqs, texts))
            if stale_ms > 0:
                state.setTimeoutDuration(stale_ms)
            yield pd.DataFrame(columns=_COLS)

    return fn


def _emit(url, sides, seqs, texts, normalization, cutoff, try_subseg):
    order = sorted(range(len(sides)), key=lambda k: (sides[k], seqs[k]))
    l1 = [texts[k] for k in order if sides[k] == 1]
    refs = [k for k in order if sides[k] == 2]
    l2, line_nos = nonempty_lines([texts[k] for k in refs],
                                  [seqs[k] for k in refs])
    rows = align_lists_rows(url, l1, l2, line_nos,
                            normalization, cutoff, try_subseg)
    return pd.DataFrame(rows, columns=_COLS)


def stream_align_segments_stateful(spark, src_dir: str, normalization=None,
                                   cutoff=None, try_subseg=True,
                                   stale_ms: int = 0,
                                   max_files_per_trigger: int | None = None):
    """Segments file stream -> per-url stateful alignment stream.

    ``stale_ms = 0`` (default): marker-driven flush only, NoTimeout —
    correct for drain-style runs (availableNow) and whenever the ingester
    reliably writes markers.  ``stale_ms > 0``: adds the processing-time
    stale-url flush for continuous triggers (see module docstring for why
    this must not be combined with availableNow)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    reader = spark.readStream.schema(SEGMENTS_TS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    segs = reader.parquet(src_dir)
    timeout = (GroupStateTimeout.ProcessingTimeTimeout if stale_ms > 0
               else GroupStateTimeout.NoTimeout)
    return segs.groupBy("url").applyInPandasWithState(
        _make_stateful_kernel(normalization, cutoff, try_subseg, stale_ms),
        outputStructType=ALIGN_SCHEMA,
        stateStructType=_STATE_DDL,
        outputMode="append",
        timeoutConf=timeout)
