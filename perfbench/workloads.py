"""The three workloads.  Each is driven as a closed loop by one client that
submits its next batch only after the previous one completed.

A workload object prepares a batch (``prepare``, never timed), submits it
to the package's public job API (``submit``, timed), checks every output
after the run (``check``) and, for the traced run, instruments one batch
(``traced_submit``) and turns the trace into layer metrics
(``layer_metrics``).  The first ``warm_batches`` batches warm up; batch 0
may be smaller than the rest.
"""

from __future__ import annotations

import os
import shutil
import xml.etree.ElementTree as ET

import gen
from tracing import Tracer, patched


def _normalization():
    from nmalign_spark.functions.normalize import DEFAULT_NORMALIZATION
    return DEFAULT_NORMALIZATION


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


def _count_patch(tr: Tracer):
    from pyspark.sql.classic.dataframe import DataFrame
    return (DataFrame, "count", tr.wrap(DataFrame.count, "pyspark.count"))


def _materialize(tr: Tracer, name: str, df, cached: list):
    """Compute ``df`` under its own span so its layer's cost is separated
    from the write that would otherwise run it lazily."""
    with tr.span(name):
        df = df.cache()
        df.count()
    cached.append(df)
    return df


def kernel_patches(tr: Tracer):
    """Spans and counters around the alignment kernel's public functions
    for an in-process replay."""
    import nmalign_spark.functions.normalize as norm
    import nmalign_spark.kernel.assign as assign
    import nmalign_spark.kernel.subseg as subseg
    import nmalign_spark.operators.align as align

    make = norm.make_preprocessor

    def counting_preprocessor(normalization):
        fn = make(normalization)

        def preprocess(s):
            tr.counts["functions.normalize.calls"] += 1
            return fn(s)
        return preprocess

    return [
        (assign, "make_preprocessor", counting_preprocessor),
        (align, "match", tr.wrap(align.match, "kernel.assign")),
        (assign, "cdist_levenshtein", tr.wrap(
            assign.cdist_levenshtein, "kernel.similarity",
            lambda r, *a, **k: {"kernel.similarity.cells": r.size})),
        (assign, "match_subseg", tr.wrap(
            assign.match_subseg, "kernel.subseg",
            lambda r, *a, **k: {"kernel.subseg.calls": 1,
                                "kernel.subseg.accepted": int(len(r) > 0)})),
        (subseg, "cdist_partial_ratio", tr.wrap(
            subseg.cdist_partial_ratio, "kernel.partial_ratio",
            lambda r, *a, **k: {"kernel.partial_ratio.calls": r.size})),
        (subseg, "partial_ratio_alignment", tr.wrap(
            subseg.partial_ratio_alignment, "kernel.partial_ratio",
            lambda r, *a, **k: {"kernel.partial_ratio.calls": 1})),
        (subseg, "dijkstra_from0", tr.wrap(
            subseg.dijkstra_from0, "kernel.shortest_path",
            lambda r, dense: {"kernel.shortest_path.nodes": dense.shape[0]})),
    ]


def kernel_metrics(tr: Tracer, scale: float = 1.0) -> dict:
    st = tr.self_times()
    c = tr.counts
    return {
        "sources.segments.self_s": scale * st["sources.segments"],
        "functions.normalize.calls": scale * c["functions.normalize.calls"],
        "kernel.similarity.self_s": scale * st["kernel.similarity"],
        "kernel.similarity.cells": scale * c["kernel.similarity.cells"],
        "kernel.assign.self_s": scale * st["kernel.assign"],
        "kernel.subseg.self_s": scale * st["kernel.subseg"],
        "kernel.subseg.calls": scale * c["kernel.subseg.calls"],
        "kernel.subseg.accepted": scale * c["kernel.subseg.accepted"],  # -> accept_frac
        "kernel.partial_ratio.self_s": scale * st["kernel.partial_ratio"],
        "kernel.partial_ratio.calls": scale * c["kernel.partial_ratio.calls"],
        "kernel.shortest_path.self_s": scale * st["kernel.shortest_path"],
        "kernel.shortest_path.nodes": scale * c["kernel.shortest_path.nodes"],
        "operators.align.rows_self_s": scale * st["operators.align.rows"],
    }


def _add(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0.0) + b.get(k, 0.0) for k in {*a, *b}}


def _accept_frac(m: dict) -> dict:
    accepted = m.pop("kernel.subseg.accepted")
    m["kernel.subseg.accept_frac"] = accepted / max(m["kernel.subseg.calls"], 1)
    return m


class Workload:
    batch_size = 0
    warm_size = 0    # size of batch 0, the first warm-up batch
    warm_batches = 1  # untimed batches before timing (part of setup_s)

    def __init__(self, spark, cache: str, seed: int, work: str):
        self.spark = spark
        self.work = work
        self.seen: set = set()
        self.gen = gen.Generator(cache, seed, self.batch_size, self.warm_size)

    def fresh(self, ids) -> None:
        """The never-seen rule: no id may be submitted twice as new input."""
        ids = set(ids)
        if not self.seen.isdisjoint(ids):
            raise RuntimeError("input repeated within one process")
        self.seen |= ids


class Extract(Workload):
    """Crawl ingest: never-seen page batches appended into one output;
    each batch re-sends 5% of the previous batch's urls."""

    batch_size = 1000
    warm_size = 250

    def __init__(self, spark, cache, seed, work):
        super().__init__(spark, cache, seed, work)
        from nmalign_spark.plans.pipeline import ExtractionPipeline
        self.out = os.path.join(work, "extract")
        self.pipe = ExtractionPipeline(self.out)
        self.stats: list[tuple[int, dict]] = []

    def prepare(self, b):
        path = self.gen.pages(b)
        self.fresh(self.gen.page_urls(b))
        return b, path

    def submit(self, item):
        b, path = item
        stats = self.pipe.run(self.spark, self.spark.read.parquet(path))
        self.stats.append((b, stats))
        return self.submitted(b)

    def submitted(self, b) -> int:
        return self.gen.size_of(b) + len(self.gen.recrawled(b))

    # -- correctness --------------------------------------------------------

    def _sample(self, b):
        n = self.gen.size_of(b)
        slots = [(7 + 97 * b) % n, n // 3 + b, 2 * n // 3 - b]
        if b == self.stats[-1][0]:  # a salted giant and a GT-per-region page
            slots += [next(k for k in range(n) if self.gen.page_kind(b, k) == kind)
                      for kind in ("giant", "paragraph")]
        return slots

    def check(self):
        from pyspark.sql import functions as F
        from nmalign_spark import match
        from nmalign_spark.sources.segments import extract_segments, reference_lines
        spark = self.spark
        ext = {r.url: (r.n, r.page_text) for r in
               spark.read.parquet(f"{self.out}/extracted").groupBy("url")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.first("page_text").alias("page_text")).collect()}
        aligned = spark.read.parquet(f"{self.out}/aligned")
        multi = {r.url for r in aligned.groupBy("url")
                 .agg(F.countDistinct("run_id").alias("k")).where("k > 1")
                 .collect()}
        expected = {u for b, _ in self.stats for u in self.gen.page_urls(b)}
        bad = {u for u in expected if ext.get(u, (0,))[0] != 1}
        bad |= (set(ext) - expected) | multi
        for b, stats in self.stats:
            recrawled = self.gen.recrawled(b)
            if stats["pages_skipped_resume"] != len(recrawled):
                bad |= set(recrawled)
        sample = {self.gen.page_url(b, k): (b, k)
                  for b, _ in self.stats for k in self._sample(b)}
        rows: dict[str, dict] = {}
        for r in (aligned.where(F.col("url").isin(list(sample)))
                  .select("url", "i", "line_no", "beg", "end", "score").collect()):
            rows.setdefault(r.url, {})[r.i] = (r.line_no, r.beg, r.end, r.score)
        for url, (b, k) in sample.items():
            _, html, text = self.gen.page_texts(b, k)
            l1 = extract_segments(html)
            l2, line_nos = reference_lines(text)
            (idx, beg, end), scores = match(l1, l2, normalization=_normalization(),
                                            try_subseg=True)
            want = {i: ((int(line_nos[j]), int(beg[i]), int(end[i]), float(scores[i]))
                        if j >= 0 else (-1, -1, -1, 0.0))
                    for i, j in enumerate(idx)}
            text_want = "\n".join(
                (l2[j][beg[i]:end[i]] if beg[i] >= 0 else l2[j])
                for i, j in enumerate(idx) if j >= 0)
            if rows.get(url) != want or ext.get(url, (0, None))[1] != text_want:
                bad.add(url)
        attempted = sum(self.submitted(b) for b, _ in self.stats)
        return attempted, len(bad)

    # -- tracing ------------------------------------------------------------

    def traced_submit(self, item, tr: Tracer):
        import nmalign_spark.plans.pipeline as pl
        pipe, cached, state = self.pipe, [], {}
        orig_align, orig_write, orig_salted = pipe._align, pipe._write, pl.salted_align

        def align(pages):
            if state["resume"]["end"] is None:
                tr.close(state["resume"])
            return _materialize(tr, "operators.align.align_pages",
                                orig_align(pages), cached)

        def salted(giants, **kw):
            return _materialize(tr, "operators.salt.salted",
                                orig_salted(giants, **kw), cached)

        def write(df, subdir, partition_cols=()):
            with tr.span("plans.pipeline.write_" + subdir.strip("_")):
                orig_write(df, subdir, partition_cols)

        files = _parquet_files(self.out)
        with patched([(pipe, "_align", align), (pipe, "_write", write),
                      (pl, "salted_align", salted), _count_patch(tr)]):
            with tr.span("plans.pipeline.run"):
                state["resume"] = tr.open("plans.pipeline.resume")
                docs = self.submit(item)
        tr.counts["plans.pipeline.files_written"] += _parquet_files(self.out) - files
        tr.counts["plans.pipeline.skipped"] += self.stats[-1][1]["pages_skipped_resume"]
        # from the generator: counting them in Spark would add a job to the trace
        tr.counts["operators.salt.giant_pages"] += self.gen.special_pages(item[0])[0]
        for df in cached:
            df.unpersist()
        return docs

    def replay(self, b):
        """Kernel phases of batch ``b`` replayed in this process: every 10th
        ordinary page plus every giant and paragraph page, scaled to the
        whole batch."""
        from nmalign_spark.functions.normalize import make_preprocessor
        from nmalign_spark.kernel.lev import cdist_levenshtein_many
        from nmalign_spark.operators.align import align_lists_rows
        from nmalign_spark.sources.segments import extract_segments, reference_lines
        n = self.gen.size_of(b)
        normal = [k for k in range(n) if self.gen.page_kind(b, k) == "normal"]
        groups = [(normal[::10], len(normal) / len(normal[::10])),
                  ([k for k in range(n) if k not in set(normal)], 1.0)]
        out: dict = {}
        for slots, scale in groups:
            tr = Tracer()
            with patched(kernel_patches(tr)):
                preprocess = make_preprocessor(_normalization())
                docs = []
                for k in slots:
                    url, html, text = self.gen.page_texts(b, k)
                    with tr.span("sources.segments"):
                        l1 = extract_segments(html)
                        l2, line_nos = reference_lines(text)
                    docs.append((url, l1, l2, line_nos))

                def counted(s):
                    tr.counts["functions.normalize.calls"] += 1
                    return preprocess(s)
                with tr.span("kernel.similarity"):
                    mats = cdist_levenshtein_many([(d[1], d[2]) for d in docs],
                                                  processor=counted)
                tr.counts["kernel.similarity.cells"] += sum(m.size for m in mats)
                for (url, l1, l2, line_nos), dist in zip(docs, mats):
                    with tr.span("operators.align.rows"):
                        align_lists_rows(url, l1, l2, line_nos, _normalization(),
                                         None, True, dist=dist)
            out = _add(out, kernel_metrics(tr, scale))
        return _accept_frac(out)

    def layer_metrics(self, tr: Tracer, item) -> dict:
        dur = tr.durations
        submitted = self.submitted(item[0])
        m = {
            "plans.pipeline.write_aligned_s": dur("plans.pipeline.write_aligned"),
            "plans.pipeline.write_extracted_s": dur("plans.pipeline.write_extracted"),
            "plans.pipeline.write_lineage_s": dur("plans.pipeline.write_lineage"),
            "plans.pipeline.count_s": tr.children_of("plans.pipeline.run",
                                                     "pyspark.count"),
            "plans.pipeline.resume_s": dur("plans.pipeline.resume"),
            "plans.pipeline.files_written": tr.counts["plans.pipeline.files_written"],
            "plans.pipeline.skipped_frac":
                tr.counts["plans.pipeline.skipped"] / submitted,
            "operators.align.align_pages_s": dur("operators.align.align_pages"),
            "operators.salt.giant_pages": tr.counts["operators.salt.giant_pages"],
            "operators.salt.salted_s": dur("operators.salt.salted"),
        }
        run = dur("plans.pipeline.run")
        covered = sum(dur(n) for n in (
            "plans.pipeline.resume", "operators.align.align_pages",
            "operators.salt.salted", "plans.pipeline.write_aligned",
            "plans.pipeline.write_extracted", "plans.pipeline.write_lineage"))
        m["trace.span_cover_frac"] = (covered + m["plans.pipeline.count_s"]) / run
        m.update(self.replay(item[0]))
        return m


class Curate(Workload):
    """Curation into one fresh output per run: each batch of never-seen
    documents goes through ``CurationPipeline.run``, then ``compact()``.
    Every batch re-sends exact copies of kept documents of the batch before
    (dropped at ingest by the ``_hashes`` index) and near copies (demoted by
    compaction).  The warm-up batch and its compaction seed the output.

    Runs by hand only: on the current package every batch after the first
    fails the ``_rules`` tally check (see README.md), and a benchmark whose
    outputs are wrong cannot be measured."""

    batch_size = 1000
    warm_size = 200

    def __init__(self, spark, cache, seed, work):
        super().__init__(spark, cache, seed, work)
        from nmalign_spark.plans.curation import CurationPipeline
        self.out = os.path.join(work, "curate")
        self.pipe = CurationPipeline(self.out)
        self.batches: list[tuple[int, dict, dict]] = []

    def prepare(self, b):
        path, plan = self.gen.docs(b)
        self.fresh(self.gen.doc_ids(b))
        return b, path, plan

    def submit(self, item):
        b, path, plan = item
        stats = self.pipe.run(self.spark, self.spark.read.parquet(path))
        self.batches.append((b, plan, stats))
        self.pipe.compact(self.spark)
        return self.gen.size_of(b)

    def check(self):
        from pyspark.sql import functions as F
        ids = {r.doc_id: r.n for r in self.spark.read.parquet(f"{self.out}/corpus")
               .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
        rules = {r.run_id: r for r in
                 self.spark.read.parquet(f"{self.out}/_rules").collect()}
        bad = {d for d, n in ids.items() if n != 1}
        for b, plan, stats in self.batches:
            r = rules.get(stats["run_id"])
            judged = stats["n_in"] - stats["n_resumed"] - stats["n_committed_dup"]
            if (r is None or r.n_judged != judged
                    or stats["n_kept"] + (r.n_dropped or 0) != r.n_judged
                    or stats["n_committed_dup"] != len(plan["recrawl"])):
                bad |= set(self.gen.doc_ids(b))
            bad |= {d for d in plan["recrawl"] if d in ids}
            bad |= {d for d, _ in plan["cross_near"] if d in ids}
            bad |= {o for _, o in plan["cross_near"] if o not in ids}
            bad |= {d for d in plan["anchors"] if d not in ids}
        attempted = sum(self.gen.size_of(b) for b, _, _ in self.batches)
        return attempted, len(bad)

    def traced_submit(self, item, tr: Tracer):
        import nmalign_spark.plans.curation as cur
        cached = []
        orig_verdict, orig_demote = cur.curation_verdict_df, cur.compaction_demotions_df
        orig_run, orig_compact = (cur.CurationPipeline.run,
                                  cur.CurationPipeline.compact)
        orig_write = cur.CurationPipeline._write

        def write(pipe, df, subdir, partition_cols=()):
            name = "write_corpus" if subdir == "corpus" else "write_side"
            with tr.span("plans.curation." + name):
                orig_write(pipe, df, subdir, partition_cols)

        def run(pipe, spark, docs_df, run_id=None):
            files = _parquet_files(pipe.output_dir)
            with tr.span("plans.curation.run"):
                stats = orig_run(pipe, spark, docs_df, run_id)
            tr.counts["plans.curation.files_written"] += \
                _parquet_files(pipe.output_dir) - files
            tr.counts["plans.curation.n_in"] += stats["n_in"]
            tr.counts["plans.curation.ingest_dup"] += stats["n_committed_dup"]
            return stats

        with patched([
                (cur, "curation_verdict_df", lambda *a, **k: _materialize(
                    tr, "operators.dedup.verdict", orig_verdict(*a, **k), cached)),
                (cur, "compaction_demotions_df", lambda *a, **k: _materialize(
                    tr, "operators.dedup.compaction", orig_demote(*a, **k), cached)),
                (cur.CurationPipeline, "run", run),
                (cur.CurationPipeline, "compact",
                 tr.wrap(orig_compact, "plans.curation.compact")),
                (cur.CurationPipeline, "_write", write), _count_patch(tr)]):
            docs = self.submit(item)
        for df in cached:
            df.unpersist()
        return docs

    def layer_metrics(self, tr: Tracer, item) -> dict:
        dur = tr.durations
        m = {
            "plans.curation.run_s": dur("plans.curation.run"),
            "plans.curation.compact_s": dur("plans.curation.compact"),
            "plans.curation.write_corpus_s": dur("plans.curation.write_corpus"),
            "plans.curation.count_s": tr.children_of("plans.curation.run",
                                                     "pyspark.count"),
            "plans.curation.files_written": tr.counts["plans.curation.files_written"],
            "plans.curation.ingest_dup_frac":
                tr.counts["plans.curation.ingest_dup"] / tr.counts["plans.curation.n_in"],
            "operators.dedup.verdict_s": dur("operators.dedup.verdict"),
            "operators.dedup.compaction_s": dur("operators.dedup.compaction"),
        }
        covered = sum(dur(n) for n in ("plans.curation.run", "plans.curation.compact"))
        m["trace.span_cover_frac"] = covered / self.traced_wall
        return m


class OcrdMerge(Workload):
    """``ocrd-nmalign-merge`` over a never-seen METS corpus per batch,
    copied fresh so the export never grows what a later batch scans."""

    batch_size = 30
    warm_size = 30
    # the first batch after a one-batch warm-up still ran ~10 % slower than
    # the ones after it, so throughput settles only after two
    warm_batches = 2
    pages_per_ws = 15

    def __init__(self, spark, cache, seed, work):
        super().__init__(spark, cache, seed, work)
        self.done: list[tuple[int, str, int]] = []

    def prepare(self, b):
        src = self.gen.workspaces(b, self.pages_per_ws)
        dst = os.path.join(self.work, f"ocrd-{b:04d}")
        shutil.copytree(src, dst)
        os.remove(os.path.join(dst, "_DONE"))
        self.fresh(os.listdir(dst))
        return b, dst

    def submit(self, item):
        from nmalign_spark.plans.workspace import align_workspaces, export_workspaces
        b, root = item
        merged, _ = align_workspaces(self.spark, root, "OCR", "GT",
                                     normalization=_normalization())
        self.done.append((b, root, export_workspaces(merged, "OUT")))
        return self.gen.size_of(b)

    @staticmethod
    def merge_page(ws: str, pid: str, mode: int, tr: Tracer | None = None):
        """The merged PAGE-XML the flow must write for one page, computed in
        process with ``match`` and ``merge_page_xml``."""
        from nmalign_spark.operators.align import align_lists_rows
        from nmalign_spark.sinks.pagexml_merge import merge_page_xml
        from nmalign_spark.sources.pagexml import parse_page_lines
        tr = tr or Tracer()
        read = lambda rel: open(os.path.join(ws, rel), "rb").read()  # noqa: E731
        ocr = read(f"OCR/{pid}.xml")
        with tr.span("sources.pagexml.parse"):
            l1 = [t for _, t, _ in parse_page_lines(ocr)]
            if mode == 2:
                other = [(t, lid) for lid, t, _ in parse_page_lines(read(f"GT/{pid}.xml"))]
        if mode != 2:
            names = [f"GT/{pid}.txt"] if mode == 0 else [f"GT/{pid}_a.txt",
                                                         f"GT/{pid}_b.txt"]
            other = [(line, None) for n in names
                     for line in read(n).decode("utf-8").splitlines()]
        l2, line_nos, ids = [], [], {}
        for seq, (line, lid) in enumerate(other):
            if lid is not None:
                ids[seq] = lid
            if line and line.strip():
                l2.append(line)
                line_nos.append(seq)
        with tr.span("operators.align.rows"):
            rows = align_lists_rows(pid, l1, l2, line_nos, _normalization(), None, True)
        with tr.span("sinks.pagexml_merge.merge"):
            return merge_page_xml(
                ocr, [(*r[1:7], r[8]) for r in rows], "GT",
                line_id_of=lambda j: ids.get(line_nos[j]) or f"line{line_nos[j]:04d}")

    def _pages(self, root):
        for ws in sorted(os.listdir(root)):
            if not os.path.isdir(os.path.join(root, ws)):
                continue
            for p in range(self.pages_per_ws):
                yield os.path.join(root, ws), f"PHYS_{p:04d}", p % 4

    def check(self):
        ns = {"mets": "http://www.loc.gov/METS/",
              "xlink": "http://www.w3.org/1999/xlink"}
        bad, attempted = set(), 0
        for b, root, written in self.done:
            paired = 0
            files = {}
            for ws in sorted(os.listdir(root)):
                if not os.path.isdir(os.path.join(root, ws)):
                    continue
                tree = ET.parse(os.path.join(root, ws, "mets.xml"))
                for g in tree.iterfind(".//mets:fileGrp[@USE='OUT']", ns):
                    for f in g.iterfind("mets:file", ns):
                        href = f.find("mets:FLocat", ns).get(f"{{{ns['xlink']}}}href")
                        files.setdefault(os.path.join(ws, f.get("ID")), []).append(href)
            for k, (ws, pid, mode) in enumerate(self._pages(root)):
                attempted += 1
                key = os.path.join(os.path.basename(ws), f"OUT_{pid}")
                got = files.get(key, [])
                path = os.path.join(ws, f"OUT/OUT_{pid}.xml")
                if mode == 3:
                    ok = not got
                else:
                    paired += 1
                    ok = got == [f"OUT/OUT_{pid}.xml"] and os.path.exists(path)
                    if ok and k % 17 == b % 17:  # the in-process sample
                        ok = open(path, "rb").read() == self.merge_page(ws, pid, mode)
                if not ok:
                    bad.add((b, ws, pid))
            if written != paired:
                bad |= {(b, ws, pid) for ws, pid, _ in self._pages(root)}
        return attempted, len(bad)

    def traced_submit(self, item, tr: Tracer):
        from nmalign_spark.plans.workspace import align_workspaces, export_workspaces
        b, root = item
        cached = []
        with patched([_count_patch(tr)]):
            with tr.span("plans.workspace.align"):
                merged, _ = align_workspaces(self.spark, root, "OCR", "GT",
                                             normalization=_normalization())
                merged = _materialize(tr, "plans.workspace.materialize", merged,
                                      cached)
            with tr.span("plans.workspace.export"):
                self.done.append((b, root, export_workspaces(merged, "OUT")))
        for df in cached:
            df.unpersist()
        return self.gen.size_of(b)

    def layer_metrics(self, tr: Tracer, item) -> dict:
        from nmalign_spark.sources.mets import parse_mets
        m = {"plans.workspace.align_s": tr.durations("plans.workspace.align"),
             "plans.workspace.export_s": tr.durations("plans.workspace.export")}
        m["trace.span_cover_frac"] = (m["plans.workspace.align_s"]
                                      + m["plans.workspace.export_s"]) / self.traced_wall
        rt = Tracer()
        src = self.gen.workspaces(item[0], self.pages_per_ws)
        with patched(kernel_patches(rt)):
            for ws in sorted(os.listdir(src)):
                if not os.path.isdir(os.path.join(src, ws)):
                    continue
                with rt.span("sources.mets.parse"):
                    parse_mets(open(os.path.join(src, ws, "mets.xml"), "rb").read())
            for ws, pid, mode in self._pages(src):
                if mode != 3:
                    self.merge_page(ws, pid, mode, rt)
        st = rt.self_times()
        m.update(_accept_frac(kernel_metrics(rt)))
        m.update({"sources.pagexml.parse_s": st["sources.pagexml.parse"],
                  "sources.mets.parse_s": st["sources.mets.parse"],
                  "sinks.pagexml_merge.merge_s": st["sinks.pagexml_merge.merge"]})
        return m


WORKLOADS = {"extract": Extract, "curate": Curate, "ocrd_merge": OcrdMerge}
