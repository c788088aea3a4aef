"""Segment extraction: html -> candidate segments (l1), text -> reference
lines (l2).

The reference's analogues are its three line-list readers (SURVEY.md §2.1
S4-S6): PAGE-XML TextLine extraction (/root/reference/nmalign/ocrd/cli.py:
187-199), region-text fallback split on CRLF (cli.py:200-207), and plaintext
``splitlines`` (cli.py:209-215).  Our primary source is HTML (north_rule:
"HTML boilerplate strip ... DOM heuristics"), parsed with deterministic
regex/stdlib heuristics — no lxml in this environment — inside Arrow batches.

Also provides the small-input sources S1-S3 (inline strings / file-per-string
/ filelist, nmalign/scripts/cli.py:20-40,66-77) as DataFrame constructors.
"""

from __future__ import annotations

import html as _html
import re

from pyspark.sql import functions as F

__all__ = ["extract_segments", "nonempty_lines", "reference_lines",
           "segments_from_pages", "inline_strings_df", "files_df",
           "filelist_df", "SEGMENTS_SCHEMA"]

SEGMENTS_SCHEMA = "url string, side int, seq_no int, seg_text string"

# boilerplate containers removed wholesale (DOM heuristic: non-content zones)
_DROP_RE = re.compile(
    r"<(script|style|head|nav|header|footer|aside|noscript)\b[^>]*>.*?</\1>",
    re.IGNORECASE | re.DOTALL)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
# block-level boundaries become line breaks
_BLOCK_RE = re.compile(
    r"</?(p|div|h[1-6]|li|ul|ol|table|tr|td|th|br|section|article|blockquote)\b[^>]*/?>",
    re.IGNORECASE)
_TAG_RE = re.compile(r"<[^>]+>")


def extract_segments(html_bytes: bytes | str) -> list[str]:
    """Boilerplate-stripped candidate text segments from one HTML document.

    Deterministic pipeline: drop script/style/head/nav/header/footer/aside,
    strip comments, convert block boundaries to newlines, strip remaining
    tags, unescape entities, split and trim.  Pure function of the bytes —
    safe to run anywhere in the cluster.
    """
    if html_bytes is None:
        return []
    s = html_bytes.decode("utf-8", errors="replace") if isinstance(html_bytes, (bytes, bytearray)) else html_bytes
    s = _COMMENT_RE.sub(" ", s)
    s = _DROP_RE.sub(" ", s)
    s = _BLOCK_RE.sub("\n", s)
    s = _TAG_RE.sub(" ", s)
    out = []
    for raw in s.split("\n"):
        seg = _html.unescape(raw)
        seg = re.sub(r"[ \t\r\f\v]+", " ", seg).strip()
        if seg:
            out.append(seg)
    return out


def nonempty_lines(lines, line_nos) -> tuple[list[str], list[int]]:
    """The reference's empty-line filter with index bookkeeping: drop
    ``None`` and whitespace-only reference lines, keep the original line
    number of each survivor (ocrd/cli.py:219-226 deletes them from both
    parallel lists in reverse order; keeping ``line_no`` makes the output
    joinable to the raw text).  Every aligner builds its ``l2`` here."""
    keep_lines, keep_nos = [], []
    for no, line in zip(line_nos, lines):
        if line and line.strip():
            keep_lines.append(line)
            keep_nos.append(no)
    return keep_lines, keep_nos


def reference_lines(text: str) -> tuple[list[str], list[int]]:
    """text -> (non-empty reference lines, their original line numbers)."""
    lines = text.split("\n") if text else []
    return nonempty_lines(lines, range(len(lines)))


def segments_from_pages(pages_df):
    """pages -> canonical long segments table (FIXTURES.md §2).

    side 1 = candidate segments from html, side 2 = reference lines from
    text.  Runs as a single ``mapInPandas`` (no shuffle); the long form is
    what ``align_segments`` groups on.
    """
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            urls, sides, seqs, texts = [], [], [], []
            for url, html_b, text in zip(pdf["url"], pdf["html"], pdf["text"]):
                for k, seg in enumerate(extract_segments(html_b)):
                    urls.append(url); sides.append(1); seqs.append(k); texts.append(seg)
                lines, _nos = reference_lines(text)
                for k, line in enumerate(lines):
                    urls.append(url); sides.append(2); seqs.append(k); texts.append(line)
            yield pd.DataFrame({"url": urls, "side": sides,
                                "seq_no": seqs, "seg_text": texts})

    return pages_df.select("url", "html", "text").mapInPandas(gen, schema=SEGMENTS_SCHEMA)


# --- small-input sources (S1-S3, nmalign/scripts/cli.py:20-40,66-77) -------

def inline_strings_df(spark, strings: list[str], side: int, url: str = "inline"):
    """S1: take the string list directly (CLI --strings1/--strings2)."""
    rows = [(url, side, i, s) for i, s in enumerate(strings)]
    return spark.createDataFrame(rows, schema=SEGMENTS_SCHEMA)


def files_df(spark, paths: list[str], side: int, url: str = "files"):
    """S2: one text file per string; file content = the string (CLI --files*).

    ``wholetext`` + ``input_file_name`` preserves the file<->string mapping;
    ordering follows the given path order (reference keeps CLI order,
    cli.py:71,77).
    """
    df = (spark.read.text(paths, wholetext=True)
          .withColumn("path", F.input_file_name()))
    order = {p.split("/")[-1]: i for i, p in enumerate(paths)}
    mapping = F.create_map([F.lit(x) for kv in order.items() for x in kv])
    return (df
            .withColumn("url", F.lit(url))
            .withColumn("side", F.lit(side))
            .withColumn("seq_no", mapping[F.element_at(F.split("path", "/"), -1)])
            .select("url", "side", "seq_no", F.col("value").alias("seg_text")))


def filelist_df(spark, listfile: str, side: int, url: str = "filelist"):
    """S3: text file listing one path per line (CLI --filelist*)."""
    with open(listfile, encoding="utf-8") as f:
        paths = [ln.strip() for ln in f if ln.strip()]
    return files_df(spark, paths, side, url=url)


# --- density-based main-content classification (DOM heuristics, north_rule) --
#
# Tag-name stripping alone cannot catch boilerplate that sites put in plain
# divs (related-article boxes, cookie banners, share bars).  The classic
# content-extraction signal (Kohlschütter et al., "Boilerplate Detection
# using Shallow Text Features", WSDM 2010 — public literature) is per-block
# LINK DENSITY: navigation/boilerplate blocks are mostly anchor text, body
# prose is not.  This classifier is deterministic and regex-only (no DOM
# lib in this environment), so it runs in any executor.

_SCRIPTISH_RE = re.compile(
    r"<(script|style|noscript)\b[^>]*>.*?</\1>", re.IGNORECASE | re.DOTALL)
_HEAD_RE = re.compile(r"<head\b[^>]*>.*?</head>", re.IGNORECASE | re.DOTALL)
_ANCHOR_RE = re.compile(r"<a\b[^>]*>(.*?)</a>", re.IGNORECASE | re.DOTALL)


def extract_blocks(html_bytes: bytes | str) -> list[tuple[str, int, int]]:
    """html -> [(clean_text, n_chars, n_link_chars)] per block.

    Unlike :func:`extract_segments`, nav/header/footer are NOT dropped by
    tag name — the density classifier judges them by their own text, which
    also catches boilerplate living in plain ``div`` soup."""
    if html_bytes is None:
        return []
    s = (html_bytes.decode("utf-8", errors="replace")
         if isinstance(html_bytes, (bytes, bytearray)) else html_bytes)
    s = _COMMENT_RE.sub(" ", s)
    s = _SCRIPTISH_RE.sub(" ", s)
    s = _HEAD_RE.sub(" ", s)
    out: list[tuple[str, int, int]] = []
    # _BLOCK_RE has exactly one capture group (the tag name), so split()
    # interleaves content and tag names: content lives at even positions.
    # Selecting positionally (not by value) keeps genuine content that
    # happens to equal a tag name (e.g. a block whose text is "blockquote").
    for raw in _BLOCK_RE.split(s)[::2]:
        if raw is None:
            continue
        link_chars = 0
        for m in _ANCHOR_RE.finditer(raw):
            inner = _TAG_RE.sub(" ", m.group(1))
            link_chars += len(re.sub(r"\s+", " ", _html.unescape(inner)).strip())
        text = _TAG_RE.sub(" ", raw)
        text = re.sub(r"\s+", " ", _html.unescape(text)).strip()
        if text:
            out.append((text, len(text), min(link_chars, len(text))))
    return out


def extract_main_content(html_bytes: bytes | str,
                         max_link_density: float = 0.4,
                         min_chars: int = 8) -> list[str]:
    """Main-content segments by link-density classification.

    A block survives iff it has at least ``min_chars`` of text and at most
    ``max_link_density`` of it inside anchors.  Deterministic; thresholds
    follow the shallow-text-features literature (boilerplate blocks are
    link-dominated; body prose is not)."""
    keep = []
    for text, n, link in extract_blocks(html_bytes):
        if n >= min_chars and (link / n) <= max_link_density:
            keep.append(text)
    return keep


def main_content_df(pages_df, max_link_density: float = 0.4,
                    min_chars: int = 8):
    """pages -> (url, seq_no, seg_text, link_density) via one narrow
    ``mapInPandas`` (same execution shape as ``segments_from_pages``)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            urls, seqs, texts, dens = [], [], [], []
            for url, html_b in zip(pdf["url"], pdf["html"]):
                k = 0
                for text, n, link in extract_blocks(html_b):
                    if n >= min_chars and (link / n) <= max_link_density:
                        urls.append(url)
                        seqs.append(k)
                        texts.append(text)
                        dens.append(round(link / n, 6))
                        k += 1
            yield pd.DataFrame({"url": urls, "seq_no": seqs,
                                "seg_text": texts, "link_density": dens})

    return pages_df.select("url", "html").mapInPandas(
        gen, schema="url string, seq_no int, seg_text string, link_density double")
