"""The ``ocrd-nmalign-merge`` production flow over METS workspaces, end to
end on Spark: METS scan -> zip_input_files pairing -> distributed file
reads -> PAGE-XML / plaintext extraction -> alignment of the two line tables
(``align_cogrouped``) -> PAGE-XML merge-back -> workspace export with an
updated METS.

Reference surface: /root/reference/nmalign/ocrd/cli.py (the processor's
``process_workspace``/``process_page_file``).  A user of the reference
points this at the same workspace directory (:func:`align_workspace`) — or
at a whole corpus of workspaces (:func:`align_workspaces`) — and gets the
same merged PAGE-XML output fileGrp; here every per-page step runs as a
Spark task, so one driver can process millions of workspaces/pages (the
reference caps at ``OCRD_MAX_PARALLEL_PAGES`` processes on one host,
conftest.py:79).  Pages are keyed ``<workspace>#<page_id>`` throughout, so
page ids repeated across workspaces (universal in OCR-D corpora:
PHYS_0001 everywhere) never collide.

Scale shape: two narrow ``mapInPandas`` parses (METS, PAGE) + one
``binaryFile`` scan joined by (workspace, href) + one grouped sort for
multi-file plaintext partners + the streaming align kernel + the merge
kernel.  The align kernel's shuffle is a url repartition into one partition
per core; the other shuffles (pairing aggregation, href join, merge-back
grouping) sit on near-uniform keys and are left to AQE.  The per-workspace
METS rewrite at export is a tiny serial commit per workspace (the METS is
one shared XML document — same split as the reference's METS server).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from pathlib import Path

from pyspark.sql import functions as F

from ..operators.align import align_cogrouped
from ..sinks.pagexml_merge import merge_pages_df
from ..sources.mets import (MIMETYPE_PAGE, mets_files_df, mets_workspaces_df,
                            zip_workspace_files)
from ..sources.pagexml import parse_page_lines, pagexml_segments_df

__all__ = ["align_workspace", "align_workspaces", "export_workspace",
           "export_workspaces"]

_SEP = "#"


def _single_frames(spark, workspace_dir: str):
    """(ws_df, blobs_df) for ONE workspace directory: workspace key =
    resolved dir; hrefs are fileGrp-relative one level deep (the standard
    ``<grp>/<file>`` layout)."""
    resolved = str(Path(workspace_dir).resolve())
    ws = (mets_workspaces_df(spark, str(Path(workspace_dir) / "mets.xml"))
          .withColumn("workspace", F.lit(resolved)))
    prefix = "file:" + resolved + "/"
    # literal-replace via lit() so odd characters in the directory path
    # can't break an expression string
    blobs = (spark.read.format("binaryFile").load(resolved + "/*/*")
             .select(F.lit(resolved).alias("workspace"),
                     F.replace(F.col("path"), F.lit(prefix), F.lit(""))
                     .alias("href"),
                     F.col("content")))
    return ws, blobs


def _corpus_frames(spark, root: str):
    """(ws_df, blobs_df) for a CORPUS layout ``<root>/<ws>/mets.xml`` +
    ``<root>/<ws>/<grp>/<file>``: workspace key = ``file:``-less dir path
    derived from each file's own path (no driver-side listing)."""
    resolved = str(Path(root).resolve())
    ws = (mets_workspaces_df(spark, resolved + "/*/mets.xml")
          .withColumn("workspace",
                      F.replace(F.replace(F.col("workspace"),
                                          F.lit("/mets.xml"), F.lit("")),
                                F.lit("file:"), F.lit(""))))
    href = F.substring_index(F.col("path"), "/", -2)
    wsdir = F.expr("substring(path, 6, length(path) - length("
                   "substring_index(path, '/', -2)) - 6)")
    blobs = (spark.read.format("binaryFile").load(resolved + "/*/*/*")
             .select(wsdir.alias("workspace"), href.alias("href"),
                     F.col("content")))
    return ws, blobs


def _align(ws, blobs, input_grp: str, other_grp: str, normalization=None,
           cutoff=None, try_subseg: bool = True):
    """Core flow over (workspace, mets) + (workspace, href, content)."""
    pairs = zip_workspace_files(mets_files_df(ws), input_grp, other_grp)
    url = F.concat_ws(_SEP, "workspace", "page_id")

    # left join + loud failure: a file listed in METS but missing on disk
    # must fail like the reference's open() would (ocrd/cli.py:211-212),
    # not silently drop the page or shift the partner line numbering
    missing_msg = F.concat(F.lit("file in METS missing on disk: "),
                           F.col("workspace"), F.lit("/"), F.col("href"))
    page_xml = (pairs
                .select("workspace", url.alias("url"), "page_file",
                        F.col("page_href").alias("href"),
                        "other_is_page", "other_hrefs")
                .join(blobs, ["workspace", "href"], "left")
                .withColumn("xml", F.when(
                    F.col("content").isNull(),
                    F.raise_error(missing_msg).cast("binary"))
                    .otherwise(F.col("content")))
                .drop("content"))

    cand = pagexml_segments_df(page_xml, side=1) \
        .select("url", "seq_no", "seg_text")

    # other side: one row per partner file, in sorted-href order (k), then
    # a per-page pass enumerates lines across files (ocrd/cli.py:209-215:
    # concatenated splitlines of the sorted plaintext files; PAGE partners
    # go through the reference extraction order instead)
    other_files = (pairs
                   .select("workspace", url.alias("url"), "other_is_page",
                           F.posexplode(F.split("other_hrefs", ","))
                           .alias("k", "href"))
                   .join(blobs, ["workspace", "href"], "left"))

    def extract(key, pdf):
        import pandas as pd
        u = key[0]
        rows = []
        seq = 0
        for _, r in pdf.sort_values("k").iterrows():
            if r["content"] is None:
                raise FileNotFoundError(
                    f"partner file in METS missing on disk: "
                    f"{r['workspace']}/{r['href']} (page {u})")
            if r["other_is_page"]:
                for lid, text, _conf in parse_page_lines(r["content"]):
                    rows.append((u, seq, text, lid))
                    seq += 1
            else:
                for line in bytes(r["content"]).decode(
                        "utf-8", "replace").splitlines():
                    rows.append((u, seq, line, None))
                    seq += 1
        return pd.DataFrame(rows, columns=["url", "seq_no", "seg_text",
                                           "line_id"])

    refs = other_files.groupBy("url").applyInPandas(
        extract, schema="url string, seq_no int, seg_text string, "
                        "line_id string")

    aligned = align_cogrouped(cand, refs.select("url", "seq_no", "seg_text"),
                              normalization=normalization, cutoff=cutoff,
                              try_subseg=try_subseg)
    merged = merge_pages_df(
        page_xml.select("url", "xml"), aligned,
        other_grp=other_grp,
        ref_ids_df=refs.where(F.col("line_id").isNotNull())
        .select("url", "seq_no", "line_id"))
    return merged.join(page_xml.select("url", "page_file"), "url"), pairs


def align_workspace(spark, workspace_dir: str, input_grp: str,
                    other_grp: str, normalization=None, cutoff=None,
                    try_subseg: bool = True):
    """Run the full merge flow for one workspace directory (``mets.xml``
    inside).  Returns (merged_df, pairs_df): merged
    (url=<workspace>#<page_id>, xml) ready for :func:`export_workspaces`,
    and the pairing table."""
    ws, blobs = _single_frames(spark, workspace_dir)
    return _align(ws, blobs, input_grp, other_grp, normalization, cutoff,
                  try_subseg)


def align_workspaces(spark, root: str, input_grp: str, other_grp: str,
                     normalization=None, cutoff=None,
                     try_subseg: bool = True):
    """Same flow over a CORPUS of workspaces laid out
    ``<root>/<ws>/mets.xml`` — one Spark job for all of them; page ids are
    disambiguated by the workspace key."""
    ws, blobs = _corpus_frames(spark, root)
    return _align(ws, blobs, input_grp, other_grp, normalization, cutoff,
                  try_subseg)


_METS_NS = "http://www.loc.gov/METS/"
_XLINK_NS = "http://www.w3.org/1999/xlink"


def _check_output_grp(ws_dir: str, output_grp: str, overwrite: bool):
    """Raise FileExistsError if ``mets.xml`` already has a fileGrp with
    this USE and ``overwrite`` is off — the reference's
    ``workspace.add_file`` raises unless OCRD_EXISTING_OUTPUT=OVERWRITE
    (ocrd/cli.py:283-290 via ocrd.Workspace)."""
    mets_path = Path(ws_dir) / "mets.xml"
    root = ET.fromstring(mets_path.read_bytes())
    exists = any(g.get("USE") == output_grp
                 for g in root.iter(f"{{{_METS_NS}}}fileGrp"))
    if exists and not overwrite:
        raise FileExistsError(
            f"fileGrp USE={output_grp!r} already exists in {mets_path}; "
            "pass overwrite=True to replace it")


def _register_files(ws_dir: str, output_grp: str, page_ids, overwrite: bool):
    """Driver-side per-workspace METS commit: drop any previous fileGrp of
    the same USE (overwrite mode) and register the new files/fptrs.  This
    touches only the tiny shared ``mets.xml`` — the PAGE-XML blobs were
    already written by the executors."""
    ET.register_namespace("mets", _METS_NS)
    ET.register_namespace("xlink", _XLINK_NS)
    mets_path = Path(ws_dir) / "mets.xml"
    root = ET.fromstring(mets_path.read_bytes())
    file_sec = root.find(f"{{{_METS_NS}}}fileSec")
    old = [g for g in file_sec.findall(f"{{{_METS_NS}}}fileGrp")
           if g.get("USE") == output_grp]
    if old and not overwrite:
        raise FileExistsError(
            f"fileGrp USE={output_grp!r} already exists in {mets_path}")
    old_ids = {f.get("ID") for g in old
               for f in g.findall(f"{{{_METS_NS}}}file")}
    for g in old:
        file_sec.remove(g)
    grp = ET.SubElement(file_sec, f"{{{_METS_NS}}}fileGrp",
                        {"USE": output_grp})
    divs = {d.get("ID"): d for d in root.iter(f"{{{_METS_NS}}}div")
            if d.get("TYPE") == "page"}
    for div in divs.values():
        for fptr in [p for p in div.findall(f"{{{_METS_NS}}}fptr")
                     if p.get("FILEID") in old_ids]:
            div.remove(fptr)
    for page_id in page_ids:
        file_id = f"{output_grp}_{page_id}"
        href = f"{output_grp}/{file_id}.xml"
        fe = ET.SubElement(grp, f"{{{_METS_NS}}}file",
                           {"ID": file_id, "MIMETYPE": MIMETYPE_PAGE})
        ET.SubElement(fe, f"{{{_METS_NS}}}FLocat",
                      {"LOCTYPE": "OTHER", f"{{{_XLINK_NS}}}href": href})
        if page_id in divs:
            ET.SubElement(divs[page_id], f"{{{_METS_NS}}}fptr",
                          {"FILEID": file_id})
    mets_path.write_bytes(ET.tostring(root, encoding="utf-8",
                                      xml_declaration=True))


def export_workspaces(merged_df, output_grp: str,
                      overwrite: bool = False) -> int:
    """Write merged PAGE-XML files into each workspace's
    ``<output_grp>/`` and register them in its ``mets.xml`` (new fileGrp +
    one fptr per page div — the ``workspace.add_file`` step,
    ocrd/cli.py:283-290).  Workspace/page come from the row's url
    (``<workspace>#<page_id>``).  Returns pages written.

    Scale shape: the PAGE-XML blobs are written from EXECUTORS (narrow
    ``mapInPandas``, no shuffle — page file paths are disjoint per row, so
    no per-workspace co-location is needed); only (workspace, page_id)
    metadata returns to the driver, which then serially patches each tiny
    shared ``mets.xml``.  Re-running without ``overwrite=True`` raises
    ``FileExistsError`` like the reference; with it, the previous fileGrp
    and its fptrs are replaced, never duplicated.

    The existing-fileGrp guard runs on the DRIVER over every distinct
    workspace BEFORE the executor write pass (each check is one tiny
    ``mets.xml`` read): a mid-write failure on a later workspace would
    otherwise leave earlier workspaces with orphaned PAGE-XML blobs (no
    METS registration) and surface as a wrapped Py4J error instead of
    ``FileExistsError``.  ``merged_df`` is persisted across the guard and
    the write pass, so the whole parse/align/merge plan runs once, not once
    per pass."""
    import pandas as pd

    meta = (merged_df
            .withColumn("page_id", F.substring_index("url", _SEP, -1))
            .withColumn("workspace", F.expr(
                "substring(url, 1, length(url) - length("
                f"substring_index(url, '{_SEP}', -1)) - 1)")))

    def write_pages(batches):
        for pdf in batches:
            out = []
            for ws_dir, page_id, xml in zip(pdf["workspace"],
                                            pdf["page_id"], pdf["xml"]):
                out_dir = Path(ws_dir) / output_grp
                out_dir.mkdir(parents=True, exist_ok=True)
                file_id = f"{output_grp}_{page_id}"
                (out_dir / f"{file_id}.xml").write_bytes(bytes(xml))
                out.append((ws_dir, page_id))
            yield pd.DataFrame(out, columns=["workspace", "page_id"])

    merged_df.persist()
    try:
        for r in meta.select("workspace").distinct().collect():
            _check_output_grp(r.workspace, output_grp, overwrite)
        per_ws_rows = (meta.select("workspace", "page_id", "xml")
                       .mapInPandas(write_pages,
                                    schema="workspace string, page_id string")
                       .groupBy("workspace")
                       .agg(F.sort_array(F.collect_list("page_id"))
                            .alias("page_ids"))
                       .collect())
    finally:
        merged_df.unpersist()
    total = 0
    for r in per_ws_rows:
        _register_files(r.workspace, output_grp, r.page_ids, overwrite)
        total += len(r.page_ids)
    return total


def export_workspace(merged_df, workspace_dir: str, output_grp: str,
                     overwrite: bool = False) -> int:
    """Single-workspace convenience wrapper over
    :func:`export_workspaces` (``workspace_dir`` kept for call-site
    clarity; the rows' urls carry the authoritative location)."""
    return export_workspaces(merged_df, output_grp, overwrite=overwrite)
