"""The ``ocrd-nmalign-merge`` production flow over METS workspaces, end to
end on Spark: METS scan -> zip_input_files pairing -> one per-page kernel
(file reads, PAGE-XML / plaintext extraction, alignment, PAGE-XML
merge-back) -> workspace export with an updated METS.

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

Scale shape: ONE Python pass per page.  The METS parse (a narrow
``mapInPandas``) runs once per call, into a ``localCheckpoint`` that the
duplicate check, the pairing and the page plan all read.  The page plan is
built from that checkpoint alone: the file rows each page's sides list
(its PAGE file and its partners, hrefs as METS lists them) are
repartitioned by url into one partition per core
(``align._kernel_partitions``) and collected per url without a second
exchange; the groups holding both sides are exactly the pairs.  One
``mapInPandas`` then reads each page's files, parses, aligns
(``align_lists_rows``) and merges, so a page reads only the files it pairs
(the reference's ``open()``, ocrd/cli.py:209-215) and no other file of a
workspace is listed, read or shuffled.  Every Arrow Python task costs a
fixed executor-time toll above this flow's kernel work (PLANS.md §5e′), so
no step of it is a Python stage of its own.  The per-workspace METS
rewrite at export is a tiny serial commit per workspace (the METS is one
shared XML document — same split as the reference's METS server).

The flow assumes a workspace path names the same directory on the driver
and on every executor (a local run, or a shared file system mounted at
one path): the kernel opens ``<workspace>/<href>`` on executors, the
export writes pages there, and the driver rewrites ``mets.xml``.  An href
is read relative to its workspace only; one that leaves it (``..`` or an
absolute path) is never opened: the call fails, naming it.
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET
from pathlib import Path

from pyspark.sql import functions as F

from ..operators.align import _kernel_partitions, align_lists_rows
from ..sinks.pagexml_merge import merge_page_xml
from ..sources.mets import (MIMETYPE_PAGE, _side_files, mets_files_df,
                            mets_workspaces_df, zip_workspace_files)
from ..sources.pagexml import parse_page_lines
from ..sources.segments import nonempty_lines

__all__ = ["align_workspace", "align_workspaces", "export_workspace",
           "export_workspaces"]

_SEP = "#"


def _read_file(ws: str, f, url: str) -> bytes:
    """The bytes of one file a page pairs, at ``<ws>/<href>``.  A file
    listed in METS but missing on disk fails like the reference's open()
    (ocrd/cli.py:211-212), never drops the page or shifts the partner line
    numbering; an href that leaves its workspace is never opened."""
    href = f["href"]
    rel = os.path.normpath(href)
    if os.path.isabs(rel) or rel.split(os.sep)[0] == os.pardir:
        raise ValueError(f"file in METS outside its workspace: {ws}: "
                         f"{href!r} (page {url})")
    try:
        with open(os.path.join(ws, rel), "rb") as fh:
            return fh.read()
    except (FileNotFoundError, IsADirectoryError, NotADirectoryError):
        raise FileNotFoundError(
            f"{'partner ' if f['role'] else ''}file in METS missing "
            f"on disk: {ws}/{href} (page {url})") from None


def _merge_kernel(other_grp, normalization, cutoff, try_subseg):
    """Per page (url, workspace, files): read and parse its PAGE file
    (role 0), read its partner files (role 1) in sorted-href order
    (ocrd/cli.py:209-215: the concatenated lines of the sorted plaintext
    files; a PAGE partner is the page's only partner, and its lines keep
    their real ids), drop the empty partner lines, align, merge back ->
    (url, xml, page_file)."""
    import pandas as pd

    def merge(url, ws, files):
        files = sorted(files, key=lambda f: (f["role"], f["href"]))
        blobs = [_read_file(ws, f, url) for f in files]
        lines, ids = [], {}
        for f, blob in zip(files[1:], blobs[1:]):
            if f["mimetype"] == MIMETYPE_PAGE:
                for lid, text, _conf in parse_page_lines(blob):
                    ids[len(lines)] = lid
                    lines.append(text)
            else:
                lines += blob.decode("utf-8", "replace").splitlines()
        l2, nos = nonempty_lines(lines, range(len(lines)))
        page = blobs[0]
        rows = align_lists_rows(url, [t for _, t, _ in parse_page_lines(page)],
                                l2, nos, normalization, cutoff, try_subseg)
        # a matched j's other line id: the partner's real id, else line%04d
        # of its ORIGINAL line number (as merge_pages_df)
        xml = merge_page_xml(
            page, [r[1:7] + (r[8],) for r in rows], other_grp,
            line_id_of=lambda j: ids.get(nos[j]) or f"line{nos[j]:04d}")
        return url, xml, files[0]["file_id"]

    def kernel(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [merge(*r) for r in zip(pdf["url"], pdf["workspace"],
                                        pdf["files"])],
                columns=["url", "xml", "page_file"])
    return kernel


def _align(ws, input_grp: str, other_grp: str, normalization=None,
           cutoff=None, try_subseg: bool = True):
    """Core flow over (workspace, mets) rows."""
    # the one METS parse of the call: the duplicate check, the pairing and
    # the page plan below all read this checkpoint
    files = mets_files_df(ws).localCheckpoint(eager=True)
    pairs = zip_workspace_files(files, input_grp, other_grp)

    # one row per file a page's sides list, its PAGE file (role 0) and its
    # partner files (role 1), hrefs as METS lists them (an href may hold a
    # comma, so never split the joined ``other_hrefs``)
    def side(grp, role):
        return _side_files(files, grp, page_only=role == 0).select(
            "workspace", "page_id", F.lit(role).alias("role"), "href",
            "file_id", "mimetype")
    reads = (side(input_grp, 0).unionByName(side(other_grp, 1))
             .withColumn("url", F.concat_ws(_SEP, "workspace", "page_id")))
    # the url repartition is the one exchange in front of the kernel: the
    # groupBy's keys follow from url, so it keeps that layout; a group
    # holding both roles is a pair (zip_workspace_files' inner join)
    roles = F.col("files.role")
    per_page = (reads.repartition(_kernel_partitions(reads), "url")
                .groupBy("url", "workspace")
                .agg(F.collect_list(F.struct("role", "href", "file_id",
                                             "mimetype")).alias("files"))
                .where(F.array_contains(roles, 0)
                       & F.array_contains(roles, 1)))
    merged = per_page.mapInPandas(
        _merge_kernel(other_grp, normalization, cutoff, try_subseg),
        schema="url string, xml binary, page_file string")
    return merged, pairs


def align_workspace(spark, workspace_dir: str, input_grp: str,
                    other_grp: str, normalization=None, cutoff=None,
                    try_subseg: bool = True):
    """Run the full merge flow for one workspace directory (``mets.xml``
    inside; workspace key = the resolved directory).  Returns (merged_df,
    pairs_df): merged (url=<workspace>#<page_id>, xml) ready for
    :func:`export_workspaces`, and the pairing table."""
    resolved = str(Path(workspace_dir).resolve())
    ws = (mets_workspaces_df(spark, str(Path(resolved) / "mets.xml"))
          .withColumn("workspace", F.lit(resolved)))
    return _align(ws, input_grp, other_grp, normalization, cutoff,
                  try_subseg)


def align_workspaces(spark, root: str, input_grp: str, other_grp: str,
                     normalization=None, cutoff=None,
                     try_subseg: bool = True):
    """Same flow over a CORPUS of workspaces laid out
    ``<root>/<ws>/mets.xml`` — one Spark job for all of them; page ids are
    disambiguated by the workspace key, the ``file:``-less directory of
    each ``mets.xml`` (no driver-side listing)."""
    resolved = str(Path(root).resolve())
    ws = (mets_workspaces_df(spark, resolved + "/*/mets.xml")
          .withColumn("workspace",
                      F.replace(F.replace(F.col("workspace"),
                                          F.lit("/mets.xml"), F.lit("")),
                                F.lit("file:"), F.lit(""))))
    return _align(ws, input_grp, other_grp, normalization, cutoff,
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
