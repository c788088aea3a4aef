"""S4 fidelity: PAGE-XML line scan — the reference's primary input format.

The crawl engine's native sources are HTML/PDF, but the reference's entire
install base holds PAGE-XML workspaces, so this reader reproduces the exact
extraction semantics of /root/reference/nmalign/ocrd/cli.py with stdlib
``xml.etree`` (no ocrd/generateDS dependency):

* ``get_AllTextLines()`` (cli.py:189,197): depth-first document-order walk
  over (possibly nested) TextRegions, collecting every TextLine — a parent
  region's own lines come before those of its nested subregions;
* ``page_element_unicode0`` (cli.py:293-298): the FIRST TextEquiv's Unicode
  (document order, not @index), defaulting '';
* ``page_element_conf0`` (cli.py:300-304): first TextEquiv's @conf,
  defaulting 1.0;
* region fallback (cli.py:200-207): when a page has no TextLines at all,
  each Text region's unicode0 is split on ``'\\r\\n'`` (the literal CRLF
  generateDS serializes as ``&#13;&#10;`` — bare CR would be eaten by XML
  line-ending normalization) and each piece becomes a pseudo-line.

Namespaces are matched by local name: PAGE content namespaces are versioned
(``.../pagecontent/2019-07-15`` etc.) and the reader must accept any of
them, like ``page_from_file`` does.

Spark surface: :func:`pagexml_segments_df` maps a table of XML payloads to
the canonical SEGMENTS_SCHEMA with one narrow ``mapInPandas`` (same
execution shape as the HTML source — pure function of the bytes, no
shuffle, safe anywhere in the cluster).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

__all__ = ["parse_page_lines", "pagexml_segments_df", "make_page_xml",
           "parse_page_hierarchy", "make_hierarchy_xml"]


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _unicode0(elem) -> str:
    """First TextEquiv's Unicode or '' (cli.py:293-298)."""
    for child in elem:
        if _local(child.tag) == "TextEquiv":
            for sub in child:
                if _local(sub.tag) == "Unicode":
                    return sub.text or ""
            return ""
    return ""


def _conf0(elem) -> float:
    """First TextEquiv's conf or 1.0 (cli.py:300-304)."""
    for child in elem:
        if _local(child.tag) == "TextEquiv":
            conf = child.get("conf")
            return 1.0 if conf is None else float(conf)
    return 1.0


def _walk_regions(elem, lines, regions):
    """Depth-first document-order collection of TextLines and Text regions
    (the ``get_AllTextLines`` traversal: a region's own lines precede its
    nested subregions')."""
    if _local(elem.tag) == "TextRegion":
        regions.append(elem)
        for child in elem:
            if _local(child.tag) == "TextLine":
                lines.append(child)
        for child in elem:
            if _local(child.tag) == "TextRegion":
                _walk_regions(child, lines, regions)
        return
    for child in elem:
        _walk_regions(child, lines, regions)


def parse_page_lines(xml_bytes: bytes | str) -> list[tuple[str, str, float]]:
    """PAGE-XML -> [(line_id, text, conf)] with the reference's extraction
    order and fallbacks.  Malformed XML yields [] (counted upstream), never
    an executor exception."""
    if xml_bytes is None:
        return []
    if isinstance(xml_bytes, str):
        xml_bytes = xml_bytes.encode("utf-8")
    try:
        root = ET.fromstring(xml_bytes)
    except ET.ParseError:
        return []
    lines: list = []
    regions: list = []
    _walk_regions(root, lines, regions)
    if lines:
        return [(ln.get("id") or f"line{i:04d}", _unicode0(ln), _conf0(ln))
                for i, ln in enumerate(lines)]
    # region fallback (cli.py:200-207): unicode0 split on CRLF
    out = []
    for region in regions:
        conf = _conf0(region)
        rid = region.get("id") or "region"
        for k, piece in enumerate(_unicode0(region).split("\r\n")):
            out.append((f"{rid}_l{k:04d}", piece, conf))
    return out


def pagexml_segments_df(pages_df, side: int = 2, xml_col: str = "xml",
                        url_col: str = "url"):
    """(url, xml binary) -> canonical segments (url, side, seq_no, seg_text,
    line_id, conf) via one narrow ``mapInPandas``.

    Note: the whitespace-only-line filter is NOT applied here — it belongs
    to the aligner (ocrd/cli.py:219-226 drops empty l2 lines with index
    bookkeeping, which every aligner applies through
    ``sources.segments.nonempty_lines``), so this source stays a faithful
    1:1 projection of the document.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    def gen(batches):
        for pdf in batches:
            urls, seqs, texts, ids, confs = [], [], [], [], []
            for url, xml_b in zip(pdf[url_col], pdf[xml_col]):
                for k, (lid, text, conf) in enumerate(parse_page_lines(xml_b)):
                    urls.append(url)
                    seqs.append(k)
                    texts.append(text)
                    ids.append(lid)
                    confs.append(conf)
            yield pd.DataFrame({
                "url": urls, "side": side, "seq_no": seqs,
                "seg_text": texts, "line_id": ids, "conf": confs})

    return pages_df.select(F.col(url_col), F.col(xml_col)).mapInPandas(
        gen, schema=("url string, side int, seq_no int, seg_text string, "
                     "line_id string, conf double"))


# --- full-hierarchy parse (A4/F9 roll-up input, operators/hierarchy.py) -----

def _equiv_info(elem) -> tuple[str, float, bool]:
    """(unicode0, conf0, has_any_textequiv) — cli.py:293-304 projections."""
    for child in elem:
        if _local(child.tag) == "TextEquiv":
            text = ""
            for sub in child:
                if _local(sub.tag) == "Unicode":
                    text = sub.text or ""
                    break
            conf = child.get("conf")
            return text, (1.0 if conf is None else float(conf)), True
    return "", 1.0, False


def _parse_word(elem) -> dict:
    text, conf, has = _equiv_info(elem)
    glyphs = []
    for child in elem:
        if _local(child.tag) == "Glyph":
            gtext, gconf, _ = _equiv_info(child)
            glyphs.append({"id": child.get("id") or "", "text": gtext,
                           "conf": gconf})
    return {"id": elem.get("id") or "", "glyphs": glyphs,
            "readingDirection": elem.get("readingDirection"),
            "text": text, "conf": conf, "has_equiv": has}


def _parse_line(elem) -> dict:
    text, conf, has = _equiv_info(elem)
    words = [_parse_word(c) for c in elem if _local(c.tag) == "Word"]
    return {"id": elem.get("id") or "", "words": words,
            "readingDirection": elem.get("readingDirection"),
            "text": text, "conf": conf, "has_equiv": has}


def _parse_region(elem) -> dict:
    text, conf, has = _equiv_info(elem)
    lines = [_parse_line(c) for c in elem if _local(c.tag) == "TextLine"]
    subs = [_parse_region(c) for c in elem if _local(c.tag) == "TextRegion"]
    return {"id": elem.get("id") or "", "lines": lines, "subregions": subs,
            "textLineOrder": elem.get("textLineOrder"),
            "readingDirection": elem.get("readingDirection"),
            "text": text, "conf": conf, "has_equiv": has}


def parse_page_hierarchy(xml_bytes: bytes | str) -> dict:
    """Full PAGE hierarchy for the A4/F9 roll-up
    (operators/hierarchy.py): regions (nested), lines, words, glyphs,
    ``Relation@type=join`` pairs, ReadingOrder indexes and the
    textLineOrder/readingDirection attributes the reference's traversal
    consults (ocrd/cli.py:345-410)."""
    empty = {"page": {}, "joins": [], "reading_order": {}, "regions": []}
    if xml_bytes is None:
        return empty
    if isinstance(xml_bytes, str):
        xml_bytes = xml_bytes.encode("utf-8")
    try:
        root = ET.fromstring(xml_bytes)
    except ET.ParseError:
        return empty
    doc = dict(empty, joins=[], reading_order={}, regions=[])

    def walk(elem):
        tag = _local(elem.tag)
        if tag == "Page":
            doc["page"] = {
                "textLineOrder": elem.get("textLineOrder"),
                "readingDirection": elem.get("readingDirection")}
        if tag == "TextRegion":
            doc["regions"].append(_parse_region(elem))
            return                       # children handled recursively
        if tag == "Relation" and elem.get("type") == "join":
            src = tgt = None
            for child in elem:
                if _local(child.tag) == "SourceRegionRef":
                    src = child.get("regionRef")
                elif _local(child.tag) == "TargetRegionRef":
                    tgt = child.get("regionRef")
            if src is not None and tgt is not None:
                doc["joins"].append((src, tgt))
        if tag == "RegionRefIndexed":
            ref, index = elem.get("regionRef"), elem.get("index")
            if ref is not None and index is not None:
                doc["reading_order"][ref] = int(index)
        for child in elem:
            walk(child)

    walk(root)
    return doc


# --- deterministic generator (tests + roundtrip gate query) -----------------

_NS = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"


def make_page_xml(lines, nested: bool = False, region_fallback: bool = False,
                  confs=None, junk_equiv: bool = False) -> str:
    """Build a PAGE-XML document for the given line texts.

    * ``nested``: even-indexed lines go to the outer region, odd-indexed to
      a region nested inside it (document order = evens then odds — probes
      the traversal order);
    * ``region_fallback``: no TextLine elements; lines joined with
      ``&#13;&#10;`` inside the region's TextEquiv (probes cli.py:200-207);
    * ``junk_equiv``: append a second TextEquiv per line that a correct
      reader must ignore (first-TextEquiv projection);
    * ``confs``: optional per-line @conf values.
    """
    import html as _html

    def esc(s: str) -> str:
        return _html.escape(s, quote=False)

    def line_xml(j, text):
        conf = "" if confs is None else f' conf="{confs[j]}"'
        junk = ("<TextEquiv><Unicode>JUNK-IGNORE</Unicode></TextEquiv>"
                if junk_equiv else "")
        return (f'<TextLine id="l{j:04d}"><TextEquiv{conf}>'
                f"<Unicode>{esc(text)}</Unicode></TextEquiv>{junk}</TextLine>")

    if region_fallback:
        body = ('<TextRegion id="r0"><TextEquiv><Unicode>'
                + "&#13;&#10;".join(esc(s) for s in lines)
                + "</Unicode></TextEquiv></TextRegion>")
    elif nested:
        evens = "".join(line_xml(j, s) for j, s in enumerate(lines)
                        if j % 2 == 0)
        odds = "".join(line_xml(j, s) for j, s in enumerate(lines)
                       if j % 2 == 1)
        body = (f'<TextRegion id="r0">{evens}'
                f'<TextRegion id="r0_1">{odds}</TextRegion></TextRegion>')
    else:
        body = ('<TextRegion id="r0">'
                + "".join(line_xml(j, s) for j, s in enumerate(lines))
                + "</TextRegion>")
    return (f'<?xml version="1.0" encoding="UTF-8"?>'
            f'<PcGts xmlns="{_NS}"><Page imageWidth="1000" '
            f'imageHeight="1000">{body}</Page></PcGts>')


def make_hierarchy_xml(lines, join_first_lines: bool = False,
                       rtl_words: bool = False,
                       bottom_to_top: bool = False,
                       word_level: bool = False) -> str:
    """Word/glyph-level PAGE-XML for the A4/F9 roll-up gate + tests.

    ``lines`` is a list of word lists; words are numbered globally
    (``w{g:04d}``).  Default shape (``word_level=False``): every word
    carries per-character Glyphs whose conf is constant per word
    (``(8 + g%5)/16`` — dyadic, so the glyph average is exactly that
    value), matching a ``level='glyph'`` roll-up (the reference semantics
    make the chosen level authoritative — a glyph-less word would
    legitimately roll up to '' there).  ``word_level=True`` instead puts a
    TextEquiv (conf ``(4 + g%4)/8``) directly on every word for
    ``level='word'`` runs.  Lines and the region carry NO TextEquiv — the
    roll-up must synthesize them.  ``join_first_lines`` emits a
    ``Relation@type=join`` from line 0's last word to line 1's first word
    (separator suppression, ocrd/cli.py:354-358,429-431).
    """
    import html as _html

    def esc(s: str) -> str:
        return _html.escape(s, quote=False)

    g = 0
    word_ids: list[list[str]] = []
    line_parts = []
    for k, words in enumerate(lines):
        ids = []
        wparts = []
        for word in words:
            wid = f"w{g:04d}"
            ids.append(wid)
            if word_level:
                conf = (4 + g % 4) / 8
                wparts.append(
                    f'<Word id="{wid}"><TextEquiv conf="{conf}">'
                    f"<Unicode>{esc(word)}</Unicode></TextEquiv></Word>")
            else:
                conf = (8 + g % 5) / 16
                glyphs = "".join(
                    f'<Glyph id="{wid}_g{c}"><TextEquiv conf="{conf}">'
                    f"<Unicode>{esc(ch)}</Unicode></TextEquiv></Glyph>"
                    for c, ch in enumerate(word))
                wparts.append(f'<Word id="{wid}">{glyphs}</Word>')
            g += 1
        word_ids.append(ids)
        rd = ' readingDirection="right-to-left"' if rtl_words else ""
        line_parts.append(f'<TextLine id="l{k:04d}"{rd}>'
                          + "".join(wparts) + "</TextLine>")
    relations = ""
    if join_first_lines and len(lines) > 1 and word_ids[0] and word_ids[1]:
        relations = (
            '<Relations><Relation type="join">'
            f'<SourceRegionRef regionRef="{word_ids[0][-1]}"/>'
            f'<TargetRegionRef regionRef="{word_ids[1][0]}"/>'
            "</Relation></Relations>")
    tlo = ' textLineOrder="bottom-to-top"' if bottom_to_top else ""
    body = (relations + f'<TextRegion id="r0"{tlo}>'
            + "".join(line_parts) + "</TextRegion>")
    return (f'<?xml version="1.0" encoding="UTF-8"?>'
            f'<PcGts xmlns="{_NS}"><Page imageWidth="1000" '
            f'imageHeight="1000">{body}</Page></PcGts>')
