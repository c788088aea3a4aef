"""METS workspace source: parse fidelity + zip_input_files pairing semantics
(reference /root/reference/nmalign/ocrd/cli.py:48-108) + an on-disk
end-to-end workspace run (METS -> pairing -> PAGE/plaintext readers ->
alignment)."""
from __future__ import annotations

import pytest

from nmalign_spark.sources.mets import (MIMETYPE_PAGE, NonUniqueInputFile,
                                        make_mets_xml, mets_files_df,
                                        mets_workspaces_df, parse_mets,
                                        workspace_duplicates,
                                        zip_workspace_files)

PAGE = MIMETYPE_PAGE
TXT = "text/plain"


def simple_mets(**kw):
    return make_mets_xml(
        pages=[("PHYS_0001", [("OCR", "O1", PAGE, "OCR/1.xml"),
                              ("GT", "G1", TXT, "GT/1.txt")]),
               ("PHYS_0002", [("OCR", "O2", PAGE, "OCR/2.xml"),
                              ("GT", "G2b", TXT, "GT/2b.txt"),
                              ("GT", "G2a", TXT, "GT/2a.txt")])],
        **kw)


class TestParse:
    def test_entries(self):
        rows = parse_mets(simple_mets())
        assert ("OCR", "O1", PAGE, "OCR/1.xml", "PHYS_0001") in rows
        assert ("GT", "G2a", TXT, "GT/2a.txt", "PHYS_0002") in rows
        assert len(rows) == 5

    def test_global_file_null_page(self):
        rows = parse_mets(make_mets_xml(
            pages=[("P1", [("OCR", "O1", PAGE, "o.xml")])],
            global_files=[("OCR", "META", "text/xml", "meta.xml")]))
        by_id = {r[1]: r for r in rows}
        assert by_id["META"][4] is None
        assert by_id["O1"][4] == "P1"

    def test_malformed_xml(self):
        assert parse_mets(b"<mets:mets") == []
        assert parse_mets(None) == []

    def test_logical_structmap_ignored(self):
        # a LOGICAL structMap div must not assign page ids
        xml = simple_mets().replace('TYPE="PHYSICAL"', 'TYPE="LOGICAL"')
        rows = parse_mets(xml)
        assert all(r[4] is None for r in rows)


@pytest.fixture(scope="module")
def files_df(spark):
    df = spark.createDataFrame(
        [("ws1", simple_mets().encode())], "workspace string, mets binary")
    return mets_files_df(df).cache()


class TestZip:
    def test_pairing(self, spark, files_df):
        out = {r.page_id: r for r in
               zip_workspace_files(files_df, "OCR", "GT").collect()}
        assert out["PHYS_0001"].page_file == "O1"
        assert out["PHYS_0001"].n_other == 1
        assert out["PHYS_0001"].other_is_page == 0
        # sorted-filename order (cli.py:210): 2a before 2b
        assert out["PHYS_0002"].other_files == "G2a,G2b"
        assert out["PHYS_0002"].other_hrefs == "GT/2a.txt,GT/2b.txt"

    def test_missing_partner_dropped(self, spark):
        xml = make_mets_xml(pages=[
            ("P1", [("OCR", "O1", PAGE, "o1.xml")]),
            ("P2", [("OCR", "O2", PAGE, "o2.xml"),
                    ("GT", "G2", TXT, "g2.txt")])])
        df = mets_files_df(spark.createDataFrame(
            [("w", xml.encode())], "workspace string, mets binary"))
        got = zip_workspace_files(df, "OCR", "GT").collect()
        assert [r.page_id for r in got] == ["P2"]

    def test_other_only_page_skipped(self, spark):
        # GT file for a page with no OCR file -> warn+skip (cli.py:78-81)
        xml = make_mets_xml(pages=[
            ("P1", [("GT", "G1", TXT, "g1.txt")]),
            ("P2", [("OCR", "O2", PAGE, "o2.xml"),
                    ("GT", "G2", TXT, "g2.txt")])])
        df = mets_files_df(spark.createDataFrame(
            [("w", xml.encode())], "workspace string, mets binary"))
        got = zip_workspace_files(df, "OCR", "GT").collect()
        assert [r.page_id for r in got] == ["P2"]

    def test_mimetype_filter(self, spark):
        # image files pass neither side's mimetype filter (cli.py:58,72)
        xml = make_mets_xml(pages=[
            ("P1", [("OCR", "O1", PAGE, "o1.xml"),
                    ("OCR", "OI", "image/png", "o1.png"),
                    ("GT", "G1", TXT, "g1.txt"),
                    ("GT", "GI", "image/png", "g1.png")])])
        df = mets_files_df(spark.createDataFrame(
            [("w", xml.encode())], "workspace string, mets binary"))
        got = zip_workspace_files(df, "OCR", "GT").collect()
        assert len(got) == 1 and got[0].other_files == "G1"

    def test_duplicate_page_side1_raises(self, spark):
        xml = make_mets_xml(pages=[
            ("P1", [("OCR", "O1", PAGE, "a.xml"),
                    ("OCR", "O1b", PAGE, "b.xml"),
                    ("GT", "G1", TXT, "g.txt")])])
        df = mets_files_df(spark.createDataFrame(
            [("w", xml.encode())], "workspace string, mets binary"))
        assert workspace_duplicates(df, "OCR", "GT").count() == 1
        with pytest.raises(NonUniqueInputFile):
            zip_workspace_files(df, "OCR", "GT")

    def test_page_plus_text_other_side_raises(self, spark):
        # cli.py:84-87: PAGE + anything else on side 2 is non-unique
        xml = make_mets_xml(pages=[
            ("P1", [("OCR", "O1", PAGE, "a.xml"),
                    ("GT", "G1", PAGE, "g.xml"),
                    ("GT", "G2", TXT, "g.txt")])])
        df = mets_files_df(spark.createDataFrame(
            [("w", xml.encode())], "workspace string, mets binary"))
        with pytest.raises(NonUniqueInputFile):
            zip_workspace_files(df, "OCR", "GT")

    def test_multiple_plaintext_ok(self, spark, files_df):
        # two text/plain partners do NOT raise (cli.py:88-91)
        assert workspace_duplicates(files_df, "OCR", "GT").count() == 0


class TestAdversarial:
    def test_structural_oddities(self):
        # file without FLocat -> empty href; fptr to unknown FILEID ignored;
        # nested fileGrp inherits the outer USE unless it has its own
        xml = ('<?xml version="1.0"?>'
               '<mets:mets xmlns:mets="http://www.loc.gov/METS/" '
               'xmlns:xlink="http://www.w3.org/1999/xlink">'
               '<mets:fileSec>'
               '<mets:fileGrp USE="OUTER">'
               '<mets:file ID="A" MIMETYPE="text/plain"/>'
               '<mets:fileGrp USE="INNER">'
               '<mets:file ID="B" MIMETYPE="text/plain">'
               '<mets:FLocat xlink:href="b.txt"/></mets:file>'
               '</mets:fileGrp>'
               '</mets:fileGrp>'
               '</mets:fileSec>'
               '<mets:structMap TYPE="PHYSICAL"><mets:div TYPE="physSequence">'
               '<mets:div TYPE="page" ID="P1">'
               '<mets:fptr FILEID="A"/><mets:fptr FILEID="GHOST"/>'
               '</mets:div></mets:div></mets:structMap></mets:mets>')
        rows = parse_mets(xml)
        by_id = {r[1]: r for r in rows}
        assert by_id["A"] == ("OUTER", "A", "text/plain", "", "P1")
        assert by_id["B"][0] == "INNER"
        assert by_id["B"][4] is None

    def test_undefined_entity_is_handled(self):
        xml = simple_mets().replace("OCR/1.xml", "&bogus;")
        assert parse_mets(xml) == []           # ET rejects; no exception

    def test_fuzz_mutations_never_raise(self):
        """Truncations, splices and byte flips of a valid METS must yield a
        (possibly empty) row list, never an executor exception."""
        import random
        rng = random.Random(7)
        base = simple_mets().encode()
        for k in range(300):
            blob = bytearray(base)
            mode = k % 3
            if mode == 0:
                blob = blob[:rng.randrange(1, len(blob))]
            elif mode == 1:
                i, j = sorted(rng.randrange(len(blob)) for _ in range(2))
                del blob[i:j]
            else:
                for _ in range(rng.randrange(1, 6)):
                    blob[rng.randrange(len(blob))] = rng.randrange(256)
            rows = parse_mets(bytes(blob))
            assert isinstance(rows, list)


class TestEndToEnd:
    def test_workspace_on_disk(self, spark, tmp_path):
        """Full OCR-D-shaped run: METS on disk -> binaryFile scan -> pairing
        -> read hrefs -> PAGE-XML + plaintext extraction -> cogrouped
        alignment; the GT text must win byte-identically per line."""
        from pyspark.sql import functions as F

        from nmalign_spark.operators.align import align_cogrouped
        from nmalign_spark.sources.pagexml import (make_page_xml,
                                                   pagexml_segments_df)

        gt_lines = ["Was ist Aufklärung?",
                    "Der Ausgang des Menschen aus seiner",
                    "selbst verschuldeten Unmündigkeit."]
        ocr_lines = ["Was iſt Aufklaͤrung?",
                     "Der Ausgang des Menſchen aus ſeiner",
                     "ſelbſt verſchuldeten Unmuͤndigkeit."]
        ws = tmp_path / "ws"
        (ws / "OCR").mkdir(parents=True)
        (ws / "GT").mkdir()
        (ws / "OCR" / "p1.xml").write_text(make_page_xml(ocr_lines))
        for k, line in enumerate(gt_lines):
            (ws / "GT" / f"p1_{k:02d}.txt").write_text(line + "\n")
        mets = make_mets_xml(pages=[
            ("P1", [("OCR", "O1", PAGE, "OCR/p1.xml")]
             + [("GT", f"G1_{k}", TXT, f"GT/p1_{k:02d}.txt")
                for k in range(len(gt_lines))])])
        (ws / "mets.xml").write_text(mets)

        workspaces = mets_workspaces_df(spark, str(ws / "mets.xml"))
        pairs = zip_workspace_files(mets_files_df(workspaces), "OCR", "GT")
        row = pairs.collect()[0]
        assert row.n_other == 3

        # materialize both sides from the paired hrefs (driver-side here —
        # one tiny workspace; production opens them in the per-page kernel
        # of plans/workspace.py)
        ocr_xml = (ws / "OCR" / "p1.xml").read_bytes()
        cand = pagexml_segments_df(
            spark.createDataFrame([("P1", ocr_xml)], "url string, xml binary"),
            side=1).select("url", "seq_no", "seg_text")
        # plaintext partners in sorted-href order, one line each
        # (ocrd/cli.py:209-215: each file's text, splitlines, concatenated)
        ref_rows = []
        seq = 0
        for href in row.other_hrefs.split(","):
            for line in (ws / href).read_text().splitlines():
                ref_rows.append(("P1", seq, line))
                seq += 1
        ref = spark.createDataFrame(
            ref_rows, "url string, seq_no int, seg_text string")

        norm = {"ſ": "s", "aͤ": "ä", "uͤ": "ü"}
        out = align_cogrouped(cand, ref, normalization=norm,
                              try_subseg=False).collect()
        got = {r.i: (r.j, round(r.score, 3)) for r in out}
        assert {i: j for i, (j, _) in got.items()} == {0: 0, 1: 1, 2: 2}
        assert all(s == 1.0 for _, s in got.values())
