"""Full ocrd-nmalign-merge workspace flow on Spark: METS pairing ->
distributed reads -> alignment -> merge-back -> METS/fileGrp export
(plans/workspace.py), covering single/multi plaintext partners AND a
PAGE-XML partner whose REAL line ids must appear in dataTypeDetails."""
from __future__ import annotations

import pytest

from nmalign_spark.plans.workspace import (align_workspace,
                                           align_workspaces,
                                           export_workspace,
                                           export_workspaces)
from nmalign_spark.sinks.pagexml_merge import parse_line_equivs
from nmalign_spark.sources.mets import (MIMETYPE_PAGE, make_mets_xml,
                                        mets_files_df, mets_workspaces_df,
                                        parse_mets, zip_workspace_files)
from nmalign_spark.sources.pagexml import make_page_xml, parse_page_lines

TXT = "text/plain"
GT = ["Was ist Aufklärung?", "Der Ausgang des Menschen",
      "aus seiner selbst verschuldeten Unmündigkeit"]
OCR = ["Was iſt Aufklaͤrung?", "Der Ausgang des Menſchen",
       "aus ſeiner ſelbſt verſchuldeten Unmuͤndigkeit"]
NORM = {"ſ": "s", "aͤ": "ä", "uͤ": "ü"}


def noisy(lines):
    """OCR-style variant that NORM maps back onto the original."""
    return [ln.replace("s", "ſ").replace("ä", "aͤ").replace("ü", "uͤ")
            for ln in lines]


def build_workspace(tmp_path, name="ws", gt=GT):
    ws = tmp_path / name
    (ws / "OCR").mkdir(parents=True)
    (ws / "GT").mkdir()
    pages = []
    for k, pid in enumerate(("PA", "PB", "PC")):
        (ws / "OCR" / f"{pid}.xml").write_text(make_page_xml(noisy(gt)))
        fs = [("OCR", f"O_{pid}", MIMETYPE_PAGE, f"OCR/{pid}.xml")]
        if k == 0:                                  # one plaintext file
            (ws / "GT" / f"{pid}.txt").write_text("\n".join(gt) + "\n")
            fs.append(("GT", f"G_{pid}", TXT, f"GT/{pid}.txt"))
        elif k == 1:                                # two, sorted-href order
            (ws / "GT" / f"{pid}_a.txt").write_text("\n".join(gt[:2]) + "\n")
            (ws / "GT" / f"{pid}_b.txt").write_text(gt[2] + "\n")
            fs += [("GT", f"G_{pid}b", TXT, f"GT/{pid}_b.txt"),
                   ("GT", f"G_{pid}a", TXT, f"GT/{pid}_a.txt")]
        else:                                       # PAGE-XML partner
            (ws / "GT" / f"{pid}.xml").write_text(make_page_xml(gt))
            fs.append(("GT", f"G_{pid}", MIMETYPE_PAGE, f"GT/{pid}.xml"))
        pages.append((pid, fs))
    (ws / "mets.xml").write_text(make_mets_xml(pages))
    return ws


def test_workspace_flow(spark, tmp_path):
    ws = build_workspace(tmp_path)
    merged, pairs = align_workspace(spark, str(ws), "OCR", "GT",
                                    normalization=NORM, try_subseg=False)
    assert pairs.count() == 3
    n = export_workspace(merged, str(ws), "OUT")
    assert n == 3

    for pid in ("PA", "PB", "PC"):
        out = (ws / "OUT" / f"OUT_{pid}.xml").read_bytes()
        # byte-identical extracted text per line, GT side wins
        assert [t for _, t, _ in parse_page_lines(out)] == GT
        equivs = parse_line_equivs(out)
        idx0 = {lid: (text, dtd) for lid, _, idx, text, _, _, dtd in equivs
                if idx == 0}
        for i in range(3):
            text, dtd = idx0[f"l{i:04d}"]
            assert text == GT[i]
            if pid == "PC":
                # PAGE partner: REAL line ids (make_page_xml: l%04d)
                assert dtd == f"GT/l{i:04d}"
            else:
                # plaintext pseudo-lines (cli.py:249-251: line%04d)
                assert dtd == f"GT/line{i:04d}"

    # METS updated: new fileGrp registered and pairable against OCR
    files = mets_files_df(mets_workspaces_df(spark, str(ws / "mets.xml")))
    out_pairs = zip_workspace_files(files, "OCR", "OUT")
    got = {r.page_id: r for r in out_pairs.collect()}
    assert set(got) == {"PA", "PB", "PC"}
    assert got["PA"].other_is_page == 1
    assert got["PA"].other_files == "OUT_PA"


def test_multi_workspace_corpus(spark, tmp_path):
    """Two workspaces with IDENTICAL page ids processed in one job: the
    workspace#page_id keying keeps them apart, and each workspace's export
    carries its own GT text."""
    gt2 = ["Erster anderer Satz hier", "Zweiter ganz anderer Satz",
           "Dritter völlig anderer Satz"]
    root = tmp_path / "corpus"
    build_workspace(root, "ws1", gt=GT)
    build_workspace(root, "ws2", gt=gt2)
    merged, pairs = align_workspaces(spark, str(root), "OCR", "GT",
                                     normalization=NORM, try_subseg=False)
    assert pairs.count() == 6
    urls = [r.url for r in merged.select("url").collect()]
    assert len(urls) == 6 and len(set(urls)) == 6
    n = export_workspaces(merged, "OUT")
    assert n == 6
    for name, want in (("ws1", GT), ("ws2", gt2)):
        for pid in ("PA", "PB", "PC"):
            out = (root / name / "OUT" / f"OUT_{pid}.xml").read_bytes()
            assert [t for _, t, _ in parse_page_lines(out)] == want


def test_export_rerun_guard_and_overwrite(spark, tmp_path):
    """Re-running the export without overwrite raises (reference:
    add_file raises FileExistsError unless OVERWRITE); with
    overwrite=True the fileGrp and its fptrs are REPLACED, never
    duplicated."""
    import xml.etree.ElementTree as ET

    import pytest

    ws = build_workspace(tmp_path)
    merged, _ = align_workspace(spark, str(ws), "OCR", "GT",
                                normalization=NORM, try_subseg=False)
    assert export_workspace(merged, str(ws), "OUT") == 3
    with pytest.raises(Exception, match="already exists"):
        export_workspace(merged, str(ws), "OUT")
    merged2, _ = align_workspace(spark, str(ws), "OCR", "GT",
                                 normalization=NORM, try_subseg=False)
    assert export_workspace(merged2, str(ws), "OUT", overwrite=True) == 3
    root = ET.fromstring((ws / "mets.xml").read_bytes())
    M = "{http://www.loc.gov/METS/}"
    grps = [g for g in root.iter(f"{M}fileGrp") if g.get("USE") == "OUT"]
    assert len(grps) == 1
    assert len(grps[0].findall(f"{M}file")) == 3
    for div in root.iter(f"{M}div"):
        if div.get("TYPE") != "page":
            continue
        fids = [p.get("FILEID") for p in div.findall(f"{M}fptr")
                if p.get("FILEID", "").startswith("OUT_")]
        assert len(fids) == 1


def test_export_writes_from_executors_not_driver(spark, tmp_path,
                                                 monkeypatch):
    """The export must never materialize the PAGE-XML blobs on the
    driver: every DataFrame.collect() during export_workspaces sees only
    metadata columns (no xml/binary column)."""
    ws = build_workspace(tmp_path)
    merged, _ = align_workspace(spark, str(ws), "OCR", "GT",
                                normalization=NORM, try_subseg=False)
    collected = []
    cls = type(merged)
    orig = cls.collect

    def spy(self):
        collected.append([f.name for f in self.schema.fields])
        return orig(self)

    monkeypatch.setattr(cls, "collect", spy)
    assert export_workspace(merged, str(ws), "OUT2") == 3
    assert collected, "export must run through Spark actions"
    for cols in collected:
        assert "xml" not in cols and "content" not in cols


def test_missing_partner_file_fails_loudly(spark, tmp_path):
    """A partner file listed in METS but missing on disk must FAIL the
    job (reference open() would raise), not silently shift the plaintext
    line numbering."""
    import pytest

    ws = build_workspace(tmp_path)
    (ws / "GT" / "PB_a.txt").unlink()
    merged, _ = align_workspace(spark, str(ws), "OCR", "GT",
                                normalization=NORM, try_subseg=False)
    with pytest.raises(Exception, match="missing on disk"):
        merged.collect()


def test_missing_page_file_fails_loudly(spark, tmp_path):
    """Same for the input fileGrp's own PAGE-XML files."""
    import pytest

    ws = build_workspace(tmp_path)
    (ws / "OCR" / "PA.xml").unlink()
    merged, _ = align_workspace(spark, str(ws), "OCR", "GT",
                                normalization=NORM, try_subseg=False)
    with pytest.raises(Exception, match="missing on disk"):
        merged.collect()


def test_partner_href_with_a_comma(spark, tmp_path):
    """A partner href holding a comma is one file, read by its full name
    (the reference opens it by name), not split at the comma."""
    ws = tmp_path / "ws"
    (ws / "OCR").mkdir(parents=True)
    (ws / "GT").mkdir()
    (ws / "OCR" / "PA.xml").write_text(make_page_xml(noisy(GT)))
    (ws / "GT" / "PA,1.txt").write_text("\n".join(GT) + "\n")
    (ws / "mets.xml").write_text(make_mets_xml([("PA", [
        ("OCR", "O_PA", MIMETYPE_PAGE, "OCR/PA.xml"),
        ("GT", "G_PA", TXT, "GT/PA,1.txt")])]))
    merged, _ = align_workspace(spark, str(ws), "OCR", "GT",
                                normalization=NORM, try_subseg=False)
    assert export_workspace(merged, str(ws), "OUT") == 1
    out = (ws / "OUT" / "OUT_PA.xml").read_bytes()
    assert [t for _, t, _ in parse_page_lines(out)] == GT


def _edge_workspace(tmp_path):
    """One page per partner shape the fused kernel must read like the
    operator composition: (page_id, OCR xml, [(file_id, mimetype, href,
    text)] in METS order)."""
    no_lines = make_page_xml([]).replace('<TextRegion id="r0"></TextRegion>',
                                         "")
    assert parse_page_lines(no_lines) == []
    blank = ["Was ist Aufklärung?", "", "   ", "Der Ausgang des Menschen",
             "\t", "aus seiner selbst verschuldeten Unmündigkeit"]
    pages = [
        ("P1", make_page_xml(["the quickk brown fox junps",
                              "ovre the lazy sleping dog",
                              "an unrelated trailing line here"]),
         [("G_P1", TXT, "GT/P1.txt",
           "the quick brown fox jumps over the lazy sleeping dog\n"
           "an unrelated trailing line here\n")]),
        ("P2", make_page_xml(noisy(GT)),
         [("G_P2b", TXT, "GT/P2_b.txt", GT[2] + "\n"),
          ("G_P2a", TXT, "GT/P2_a.txt", "\n".join(GT[:2]) + "\n")]),
        ("P3", make_page_xml(noisy(GT), nested=True),
         [("G_P3", MIMETYPE_PAGE, "GT/P3.xml", make_page_xml(GT))]),
        ("P4", make_page_xml(noisy(GT)),
         [("G_P4", TXT, "GT/P4.txt", "\n".join(blank) + "\n")]),
        ("P5", make_page_xml(noisy(GT), region_fallback=True),
         [("G_P5", TXT, "GT/P5.txt", "\n".join(GT) + "\n")]),
        ("P6", no_lines,
         [("G_P6", TXT, "GT/P6.txt", "\n".join(GT) + "\n")]),
    ]
    ws = tmp_path / "edge"
    (ws / "OCR").mkdir(parents=True)
    (ws / "GT").mkdir()
    mets = []
    for pid, ocr, partners in pages:
        (ws / "OCR" / f"{pid}.xml").write_text(ocr)
        fs = [("OCR", f"O_{pid}", MIMETYPE_PAGE, f"OCR/{pid}.xml")]
        for fid, mime, href, text in partners:
            (ws / href).write_text(text)
            fs.append(("GT", fid, mime, href))
        mets.append((pid, fs))
    (ws / "mets.xml").write_text(make_mets_xml(mets))
    return ws, pages


def test_fused_merge_equals_the_operator_composition(spark, tmp_path):
    """The one-kernel flow writes, per url, the bytes of the operator
    composition it replaces: PAGE segments + partner lines in sorted-href
    order -> ``align_cogrouped`` -> ``merge_pages_df`` with the partner's
    real line ids."""
    from pyspark.sql import functions as F

    from nmalign_spark.operators.align import align_cogrouped
    from nmalign_spark.sinks.pagexml_merge import merge_pages_df
    from nmalign_spark.sources.pagexml import pagexml_segments_df

    ws, pages = _edge_workspace(tmp_path)
    key = str(ws.resolve()) + "#"
    page_xml = spark.createDataFrame(
        [(key + pid, ocr.encode()) for pid, ocr, _ in pages],
        "url string, xml binary")
    refs = []
    for pid, _, partners in pages:
        seq = 0
        for _, mime, _, text in sorted(partners, key=lambda f: f[2]):
            lines = ([(lid, t) for lid, t, _ in parse_page_lines(text)]
                     if mime == MIMETYPE_PAGE else
                     [(None, t) for t in text.splitlines()])
            for lid, t in lines:
                refs.append((key + pid, seq, t, lid))
                seq += 1
    refs = spark.createDataFrame(
        refs, "url string, seq_no int, seg_text string, line_id string")
    cand = pagexml_segments_df(page_xml, side=1).select("url", "seq_no",
                                                        "seg_text")
    aligned = align_cogrouped(cand, refs.select("url", "seq_no", "seg_text"),
                              normalization=NORM, try_subseg=True)
    want = merge_pages_df(page_xml, aligned, other_grp="GT",
                          ref_ids_df=refs.where(F.col("line_id").isNotNull())
                          .select("url", "seq_no", "line_id"))

    merged, _ = align_workspace(spark, str(ws), "OCR", "GT",
                                normalization=NORM, try_subseg=True)
    got = {r.url: (bytes(r.xml), r.page_file) for r in merged.collect()}
    assert {u: x for u, (x, _) in got.items()} == \
        {r.url: bytes(r.xml) for r in want.collect()}
    assert {u: f for u, (_, f) in got.items()} == \
        {key + pid: f"O_{pid}" for pid, _, _ in pages}
    # the fixture reaches every branch: sub-segments of one partner line,
    # matched lines with real ids and with filtered line numbers, the region
    # fallback (pseudo-lines align, but there is no TextLine to merge into),
    # an empty page
    equivs = {u[len(key):]: parse_line_equivs(x) for u, (x, _) in got.items()}
    assert any(d == "GT/l0001" for *_, d in equivs["P3"])
    assert {d for *_, d in equivs["P4"] if d} == {
        "GT/line0000", "GT/line0003", "GT/line0005"}
    assert [d for *_, d in equivs["P1"] if d] == [
        "GT/line0000[0:25]", "GT/line0000[26:51]", "GT/line0001"]
    assert equivs["P5"] == equivs["P6"] == []


def _retarget(ws, pid, href):
    """Point page ``pid``'s one plaintext partner at ``href`` in METS."""
    mets = (ws / "mets.xml").read_text()
    assert mets.count(f'"GT/{pid}.txt"') == 1
    (ws / "mets.xml").write_text(mets.replace(f'"GT/{pid}.txt"', f'"{href}"'))


@pytest.mark.parametrize("mode", ["single", "corpus"])
def test_partner_in_a_subdirectory_merges(spark, tmp_path, mode):
    """A relative href deeper than ``<grp>/<file>`` is read like any other
    (the reference opens it by its path inside the workspace)."""
    ws = build_workspace(tmp_path)
    (ws / "GT" / "sub").mkdir()
    (ws / "GT" / "PA.txt").rename(ws / "GT" / "sub" / "PA.txt")
    _retarget(ws, "PA", "GT/sub/PA.txt")
    if mode == "single":
        merged, _ = align_workspace(spark, str(ws), "OCR", "GT",
                                    normalization=NORM, try_subseg=False)
    else:
        merged, _ = align_workspaces(spark, str(tmp_path), "OCR", "GT",
                                     normalization=NORM, try_subseg=False)
    assert export_workspaces(merged, "OUT") == 3
    out = (ws / "OUT" / "OUT_PA.xml").read_bytes()
    assert [t for _, t, _ in parse_page_lines(out)] == GT


@pytest.mark.parametrize("where", ["parent", "absolute"])
def test_href_outside_the_workspace_is_refused(spark, tmp_path, where):
    """An href that leaves its workspace directory is never opened, even
    when the file it names exists: the call fails naming the href, and no
    page of it is written."""
    ws = build_workspace(tmp_path)
    other = tmp_path / "other" / "GT"
    other.mkdir(parents=True)
    (other / "PA.txt").write_text("\n".join(GT) + "\n")
    href = ("../other/GT/PA.txt" if where == "parent"
            else str(other / "PA.txt"))
    _retarget(ws, "PA", href)
    merged, _ = align_workspace(spark, str(ws), "OCR", "GT",
                                normalization=NORM, try_subseg=False)
    with pytest.raises(Exception, match="outside its workspace") as err:
        export_workspace(merged, str(ws), "OUT")
    assert href in str(err.value)
    assert not (ws / "OUT").exists()


@pytest.mark.parametrize("href", ["", "GT", "GT/PB_a.txt/PA.txt"])
def test_partner_href_naming_no_file_fails_loudly(spark, tmp_path, href):
    """An empty href, or one naming a directory or a path through a file,
    fails as missing on disk too, naming the page."""
    ws = build_workspace(tmp_path)
    _retarget(ws, "PA", href)
    merged, _ = align_workspace(spark, str(ws), "OCR", "GT",
                                normalization=NORM, try_subseg=False)
    with pytest.raises(Exception, match="missing on disk: .*#PA"):
        merged.collect()


def test_a_file_group_the_merge_never_reads(spark, tmp_path):
    """Files of a fileGrp the merge does not pair are never read: a page
    image too large for any Spark row (a 3 GB sparse file, no disk blocks)
    sits next to OCR and GT, listed in METS, and the flow runs."""
    root = tmp_path / "corpus"
    ws = build_workspace(root, "ws1")
    (ws / "IMG").mkdir()
    with open(ws / "IMG" / "PA.tif", "wb") as f:
        f.truncate(3 << 30)
    pages = {}
    for grp, fid, mime, href, pid in parse_mets((ws / "mets.xml").read_bytes()):
        pages.setdefault(pid, []).append((grp, fid, mime, href))
    pages["PA"].insert(0, ("IMG", "I_PA", "image/tiff", "IMG/PA.tif"))
    (ws / "mets.xml").write_text(make_mets_xml(list(pages.items())))
    merged, pairs = align_workspaces(spark, str(root), "OCR", "GT",
                                     normalization=NORM, try_subseg=False)
    assert pairs.count() == 3
    assert export_workspaces(merged, "OUT") == 3
    for pid in ("PA", "PB", "PC"):
        out = (ws / "OUT" / f"OUT_{pid}.xml").read_bytes()
        assert [t for _, t, _ in parse_page_lines(out)] == GT


@pytest.mark.parametrize("mode", ["single", "corpus"])
def test_odd_workspace_names(spark, tmp_path, mode):
    """Workspace directories named with a space, a percent escape, a
    non-ASCII letter, a comma or the url separator export every page into
    ``<ws>/OUT/``: the workspace key is the path the kernel opens and the
    export writes to."""
    names = ("ws a", "ws%20b", "wsé", "ws,c", "ws#d")
    for name in names:
        build_workspace(tmp_path, name)
    if mode == "single":
        for name in names:
            merged, _ = align_workspace(spark, str(tmp_path / name), "OCR",
                                        "GT", normalization=NORM,
                                        try_subseg=False)
            assert export_workspace(merged, str(tmp_path / name), "OUT") == 3
    else:
        merged, _ = align_workspaces(spark, str(tmp_path), "OCR", "GT",
                                     normalization=NORM, try_subseg=False)
        assert export_workspaces(merged, "OUT") == 3 * len(names)
    for name in names:
        for pid in ("PA", "PB", "PC"):
            out = (tmp_path / name / "OUT" / f"OUT_{pid}.xml").read_bytes()
            assert [t for _, t, _ in parse_page_lines(out)] == GT


# the most jobs seen over repeated runs (20 of 20 read 10); a call that
# listed and read every file of the corpus with ``binaryFile`` took 14
MERGE_JOBS = 10


def test_job_budget_of_a_corpus_merge(spark, tmp_path):
    """One align_workspaces + export_workspaces over two workspaces runs
    the METS read and its checkpoint, the duplicate check, the merge and
    the export, and no job that lists or reads the files pages pair."""
    root = tmp_path / "corpus"
    build_workspace(root, "ws1")
    build_workspace(root, "ws2")
    sc, group = spark.sparkContext, f"{tmp_path.name}-merge"
    sc.setJobGroup(group, group)
    try:
        merged, _ = align_workspaces(spark, str(root), "OCR", "GT",
                                     normalization=NORM, try_subseg=False)
        assert export_workspaces(merged, "OUT") == 6
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= MERGE_JOBS
