"""End-to-end Spark tests: pages source, extraction, distributed alignment.

Parity contract (SURVEY.md §5c): the Spark pipeline output must equal the
local ``match()`` output on the same lists — byte-identical per url.
"""

import pytest

from nmalign_spark.functions.normalize import DEFAULT_NORMALIZATION
from nmalign_spark.operators.align import align_lists_rows, align_pages, align_segments, route_skew
from nmalign_spark.sources.pages import pages_from_documents, synth_page
from nmalign_spark.sources.segments import extract_segments, reference_lines, segments_from_pages


def test_extract_segments_strips_boilerplate():
    url, ts, html_b, text, lang = synth_page(7, "alpha beta gamma delta epsilon "
                                             "zeta eta theta iota kappa " * 4, "en")
    segs = extract_segments(html_b)
    assert segs, "no segments extracted"
    joined = " ".join(segs)
    # boilerplate must be gone
    for junk in ["track(", "home", "imprint", "site ", ".c{margin"]:
        assert junk not in joined, junk
    # content words must be there (possibly noised, so check a majority)
    hits = sum(w in joined for w in ["alpha", "beta", "gamma", "delta"])
    assert hits >= 2


def test_reference_lines_filter_keeps_original_numbers():
    lines, nos = reference_lines("first\n   \nsecond\n\nthird")
    assert lines == ["first", "second", "third"]
    assert nos == [0, 2, 4]


def test_batched_doc_rows_equal_per_page_rows():
    """In process, no Spark: one flat similarity pass over a batch gives the
    rows of aligning each page alone with no injected matrix, on pages with
    only <= 64-char segments, pages with longer ones, and a page with a
    ~1,000-char reference line."""
    import random

    from nmalign_spark.operators.align import _batched_doc_rows
    rng = random.Random(7)
    vocab = ["straße", "haus", "über", "ein", "der", "mann", "kam", "nach",
             "ärger", "zeit", "lang", "wort", "schloss", "stadt"]

    def line(k):
        return " ".join(rng.choice(vocab) for _ in range(k))

    def ocr(s):  # the normalization undoes all but the n -> m confusion
        s = s.replace("s", "ſ").replace("ä", "aͤ").replace("ü", "uͤ")
        return s.replace("n", "m", 1)

    docs = []
    for p in range(12):
        l2 = [line(4 if p % 2 else 14) for _ in range(rng.randint(2, 6))]
        l1 = [ocr(s) for s in l2]
        half = len(l1[0]) // 2
        l1[:1] = [l1[0][:half], l1[0][half:]]  # a split line for subseg
        rng.shuffle(l1)
        docs.append((f"u{p}", l1, l2, list(range(len(l2)))))
    para = line(200)
    docs.append(("para", [ocr(para[:60]), ocr(para[60:300]), line(3)],
                 [para, line(5)], [0, 2]))
    docs.append(("no-segments", [], ["x"], [0]))
    docs.append(("no-reference", ["lonely"], [], []))
    seg_lens = [len(s) for _, l1, _, _ in docs for s in l1]
    assert min(seg_lens) <= 64 < max(seg_lens) and len(para) >= 1000

    got = _batched_doc_rows(docs, DEFAULT_NORMALIZATION, None, True)
    want = [align_lists_rows(url, l1, l2, nos,
                             normalization=DEFAULT_NORMALIZATION,
                             cutoff=None, try_subseg=True)
            for url, l1, l2, nos in docs]
    assert got == want
    assert any(r[4] >= 0 for rows in got for r in rows)  # subseg splits ran


def test_pages_source_deterministic(spark, sf_small):
    a = pages_from_documents(spark, sf_small).orderBy("url").limit(5).collect()
    b = pages_from_documents(spark, sf_small).orderBy("url").limit(5).collect()
    assert [r.url for r in a] == [r.url for r in b]
    assert [r.html for r in a] == [r.html for r in b]
    assert a[0].warc_ts is not None and a[0].lang in ("en", "de", "fr", "es", "it")
    n = pages_from_documents(spark, sf_small).count()
    assert n == 500  # one page per document


def test_align_pages_matches_local_kernel(spark, sf_small):
    pages = pages_from_documents(spark, sf_small).limit(20).cache()
    out = align_pages(pages, normalization=DEFAULT_NORMALIZATION,
                      try_subseg=True)
    got = {}
    for r in out.collect():
        got.setdefault(r.url, []).append(
            (r.i, r.j, r.line_no, r.beg, r.end, round(r.score, 6), r.seg_text, r.extracted))
    # recompute locally (driver) — must be byte-identical
    for row in pages.collect():
        l1 = extract_segments(row.html)
        l2, nos = reference_lines(row.text)
        exp = [(i, j, ln, b, e, round(s, 6), seg, ext)
               for (_u, i, j, ln, b, e, s, seg, ext) in
               align_lists_rows(row.url, l1, l2, nos,
                                normalization=DEFAULT_NORMALIZATION,
                                cutoff=None, try_subseg=True)]
        assert sorted(got[row.url]) == sorted(exp), row.url
    # coverage sanity: most candidate segments should be matched
    total = sum(len(v) for v in got.values())
    matched = sum(1 for v in got.values() for t in v if t[1] >= 0)
    assert matched / total > 0.8


def test_align_segments_equals_align_pages(spark, sf_small):
    pages = pages_from_documents(spark, sf_small).limit(10).cache()
    via_pages = align_pages(pages, normalization=DEFAULT_NORMALIZATION).collect()
    segs = segments_from_pages(pages)
    via_segments = align_segments(segs, normalization=DEFAULT_NORMALIZATION).collect()
    key = lambda r: (r.url, r.i)
    vp = {key(r): (r.j, r.line_no, r.beg, r.end, round(r.score, 6), r.extracted)
          for r in via_pages}
    vs = {key(r): (r.j, r.line_no, r.beg, r.end, round(r.score, 6), r.extracted)
          for r in via_segments}
    assert vp == vs


def test_route_skew_partitions(spark, sf_small):
    pages = pages_from_documents(spark, sf_small)
    normal, giants = route_skew(pages, giant_chars=400)
    n_n, n_g = normal.count(), giants.count()
    assert n_n + n_g == 500
    assert n_g > 0  # threshold low enough to route some pages


def test_unmatched_short_lines_tolerated(spark, sf_small):
    # reference property (test_all.py:111-113): unmatched l2 lines are only
    # tolerated when short (<=4 chars).  Our noisy corpus drops ~5% of lines
    # entirely, so check the weaker direction: of the *matched* output, long
    # reference lines dominate, and scores are high on average.
    pages = pages_from_documents(spark, sf_small).limit(50)
    out = align_pages(pages, normalization=DEFAULT_NORMALIZATION).collect()
    scores = [r.score for r in out if r.j >= 0]
    assert sum(scores) / len(scores) > 0.75


def test_cogrouped_equals_segments_path(spark, sf_small):
    """align_cogrouped(two tables) == align_segments(one long table) == the
    local core ``align_lists_rows`` per url — including a url with candidates
    only (rows with j = -1), one with references only (no rows), and
    whitespace-only / None reference lines (filtered, original numbers
    kept)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from nmalign_spark.functions.normalize import DEFAULT_NORMALIZATION
    from nmalign_spark.operators.align import _COLS, align_cogrouped, align_segments
    from nmalign_spark.sources.pages import pages_from_documents
    from nmalign_spark.sources.segments import (SEGMENTS_SCHEMA, nonempty_lines,
                                                segments_from_pages)

    edge = spark.createDataFrame([
        ("edge://cand-only", 1, 0, "a lonely candidate line"),
        ("edge://cand-only", 1, 1, "and a second one"),
        ("edge://ref-only", 2, 0, "a reference nobody aligns to"),
        ("edge://blank-refs", 1, 0, "first line of the page"),
        ("edge://blank-refs", 1, 1, "second line of the page"),
        ("edge://blank-refs", 2, 0, "   "),
        ("edge://blank-refs", 2, 1, "first line of the page"),
        ("edge://blank-refs", 2, 2, None),
        ("edge://blank-refs", 2, 3, ""),
        ("edge://blank-refs", 2, 4, "second line of the page"),
    ], SEGMENTS_SCHEMA)
    pages = pages_from_documents(spark, sf_small).limit(40)
    segs = segments_from_pages(pages).unionByName(edge).cache()
    cand = segs.where(F.col("side") == 1).select("url", "seq_no", "seg_text")
    refs = segs.where(F.col("side") == 2).select("url", "seq_no", "seg_text")

    def canon(df):
        pdf = df.toPandas()
        return (pdf.sort_values(["url", "i"]).reset_index(drop=True)
                .reindex(sorted(pdf.columns), axis=1))

    cogrouped = align_cogrouped(cand, refs, normalization=DEFAULT_NORMALIZATION)
    a = canon(cogrouped)
    b = canon(align_segments(segs, normalization=DEFAULT_NORMALIZATION))
    pd.testing.assert_frame_equal(a, b)

    sides = {}
    for r in segs.collect():
        sides.setdefault(r.url, {1: [], 2: []})[r.side].append((r.seq_no, r.seg_text))
    want = []
    for url, by_side in sides.items():
        l1 = [t for _, t in sorted(by_side[1], key=lambda p: p[0])]
        refs_sorted = sorted(by_side[2], key=lambda p: p[0])
        l2, nos = nonempty_lines([t for _, t in refs_sorted],
                                 [no for no, _ in refs_sorted])
        want += align_lists_rows(url, l1, l2, nos,
                                 normalization=DEFAULT_NORMALIZATION,
                                 cutoff=None, try_subseg=True)
    got = [tuple(r) for r in cogrouped.select(*_COLS).collect()]
    key = lambda row: (row[0], row[1])  # (url, i) is unique
    assert sorted(got, key=key) == sorted(want, key=key)

    by_url = {}
    for row in got:
        by_url.setdefault(row[0], []).append(row)
    assert [r[2] for r in by_url["edge://cand-only"]] == [-1, -1]
    assert "edge://ref-only" not in by_url
    assert sorted(r[3] for r in by_url["edge://blank-refs"]) == [1, 4]
