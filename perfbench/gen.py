"""Seeded input generator for the three benchmark workloads.

Every input is a pure function of ``(seed, batch number, batch size)``:
the same arguments give byte-identical files.  Batches are written once
into ``<cache>/<version>/<kind>-s<seed>-n<size>/b<batch>/`` (``<version>``
hashes this file; a ``_DONE`` marker makes the cache safe against an
interrupted write) and are never timed.

Identifiers embed the batch number, so every url, doc_id and workspace of
one batch is new to the process; the only repeats are the planted
re-crawls, which the pipelines must skip or drop.
"""

from __future__ import annotations

import datetime
import hashlib
import html
import itertools
import os
import random
import shutil

STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
_ONSETS = ["b", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s", "t",
           "w", "z", "sch", "st", "br", "gr", "kl", "tr", "ſp"]
_NUCLEI = ["a", "e", "i", "o", "u", "ä", "ö", "ü", "ei", "au", "ie"]
_CODAS = ["", "", "n", "r", "s", "l", "rn", "t", "nd", "st", "ch"]
# OCR-style confusions; ſ and the combining umlauts are undone by the
# package's default normalization, so matches stay recoverable
_CONFUSIONS = [("s", "ſ"), ("ä", "aͤ"), ("ö", "oͤ"), ("ü", "uͤ"),
               ("o", "0"), ("e", "c"), ("rn", "m"), ("l", "1")]
_JUNK = ["advertisement", "cookie notice ok", "share this page"]
_BASE_TS = datetime.datetime(2025, 3, 1, tzinfo=datetime.timezone.utc)
MIMETYPE_PAGE = "application/vnd.prima.page+xml"
# cached batches are keyed by this file's content too, so a changed
# generator never reads batches an earlier version wrote
with open(__file__, "rb") as _f:
    VERSION = hashlib.sha256(_f.read()).hexdigest()[:12]

# extract mix.  Page length (10-100 words, about uniform: the deciles are
# 19, 28, ..., 90 words) and the noise model follow the sf0.1 documents
# table and sources/pages.py, which bench.py's extract job is built from;
# the giant share is the 3 in 3,000 of BENCH_SKEW.md.  The paragraph-page
# and re-crawl shares have no source in the repository (see README.md).
GIANT_SHARE = 0.001
GIANT_CHARS = 21_000          # just over the pipeline's giant_chars (20,000)
PARAGRAPH_SHARE = 0.002       # GT-per-region pages: one ~1,000-char line
PARAGRAPH_CHARS = 1000
RECRAWL_SHARE = 0.05          # share of the previous batch's urls re-sent

# curate mix: the verdict shares of the sf0.1 documents table (5,000 docs;
# curation_verdict_df at local[4]): 0.16% exact duplicates, 4.88% near
# duplicates (exact ones included), 61.9% failing the Gopher gate, 9.2%
# dropped for duplicated spans.  The cross-batch plants have no source.
EXACT_DUP_SHARE = 0.0016
NEAR_DUP_SHARE = 0.0472
LOW_QUALITY_SHARE = 0.619
BOILERPLATE_SHARE = 0.092
RECRAWL_DOCS_SHARE = 0.02     # exact copies of the previous batch's anchors
CROSS_NEAR_SHARE = 0.01       # near copies of the previous batch's anchors


def _rng(seed: int, *key: int) -> random.Random:
    """Independent deterministic stream per (seed, key); string seeding is
    stable across processes and Python versions."""
    return random.Random("-".join(map(str, (seed, *key))))


class Words:
    """A seeded Zipf vocabulary of pseudo-German words plus the Gopher
    stopwords, so texts pass the quality gate and carry OCR-confusable
    characters."""

    def __init__(self, seed: int, size: int = 20_000):
        rng = _rng(seed, 0)
        vocab = set()
        while len(vocab) < size:
            n_syl = rng.choices((1, 2, 3), weights=(60, 35, 5))[0]
            vocab.add("".join(rng.choice(_ONSETS) + rng.choice(_NUCLEI)
                              + rng.choice(_CODAS) for _ in range(n_syl)))
        self.vocab = sorted(vocab)
        rng.shuffle(self.vocab)
        self.cum = list(itertools.accumulate(1.0 / r ** 0.9
                                             for r in range(1, size + 1)))

    def words(self, rng: random.Random, n: int, tag: str = "") -> list[str]:
        out = [w + tag for w in rng.choices(self.vocab, cum_weights=self.cum, k=n)]
        for k in range(n):
            if rng.random() < 0.15:
                out[k] = rng.choice(STOPWORDS)
        return out


def _noise(s: str, rng: random.Random) -> str:
    for src, dst in _CONFUSIONS:
        if src in s and rng.random() < 0.35:
            parts = s.split(src)
            s = parts[0] + "".join((dst if rng.random() < 0.5 else src) + p
                                   for p in parts[1:])
    chars = list(s)
    for _ in range(sum(rng.random() < 0.02 for _ in chars)):
        pos = rng.randrange(len(chars))
        op = rng.random()
        if op < 0.4 and chars[pos] != " ":
            chars[pos] = chr(ord("a") + rng.randrange(26))
        elif op < 0.7:
            chars.insert(pos, chr(ord("a") + rng.randrange(26)))
        elif chars[pos] != " ":
            del chars[pos]
    return "".join(chars)


def _lines(words: list[str], rng: random.Random, lo=4, hi=8) -> list[str]:
    lines, i = [], 0
    while i < len(words):
        k = rng.randint(lo, hi)
        lines.append(" ".join(words[i:i + k]))
        i += k
    return lines


def _segments(lines: list[str], rng: random.Random) -> list[str]:
    """Noisy candidate segments: some lines split 2-3 ways, a few dropped,
    an occasional adjacent swap and a junk segment."""
    segs = []
    for line in lines:
        r = rng.random()
        words = line.split()
        if r < 0.05 and len(lines) > 3:
            continue
        if r < 0.15 and len(words) >= 6:
            cut = sorted(rng.sample(range(1, len(words)), 2))
            for a, b in zip([0] + cut, cut + [len(words)]):
                segs.append(_noise(" ".join(words[a:b]), rng))
        else:
            segs.append(_noise(line, rng))
    if len(segs) > 3 and rng.random() < 0.25:
        p = rng.randrange(len(segs) - 1)
        segs[p], segs[p + 1] = segs[p + 1], segs[p]
    if rng.random() < 0.3:
        segs.insert(rng.randrange(len(segs) + 1), rng.choice(_JUNK))
    return segs or ["placeholder"]


def _html(url: str, segs: list[str]) -> bytes:
    body = "".join(f"<p>{html.escape(s)}</p>" for s in segs)
    return ("<html><head><title>" + html.escape(url) + "</title>"
            "<script>var t=1;</script></head><body><nav><a href=\"/\">home</a>"
            f"</nav><div class=\"content\">{body}</div>"
            "<footer>&copy; 2025 bench.example</footer></body></html>"
            ).encode("utf-8")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _commit(tmp: str, path: str) -> None:
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def _write_parquet(tmp: str, table_rows: dict, schema, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    for f in range(n_files):
        part = {k: v[f::n_files] for k, v in table_rows.items()}
        pq.write_table(pa.table(part, schema=schema),
                       os.path.join(tmp, f"part-{f:03d}.parquet"))


class Generator:
    """Batch factory for one (seed, batch size); files land under ``cache``."""

    def __init__(self, cache: str, seed: int, size: int, warm_size: int,
                 files_per_batch: int = 8):
        self.cache = cache
        self.seed = seed
        self.size = size
        self.warm_size = warm_size  # size of batch 0, the warm-up batch
        self.files = files_per_batch
        self._words = None

    @property
    def words(self) -> Words:
        if self._words is None:
            self._words = Words(self.seed)
        return self._words

    def size_of(self, batch: int) -> int:
        return self.warm_size if batch == 0 else self.size

    def _dir(self, kind: str, batch: int) -> str:
        return os.path.join(self.cache, VERSION,
                            f"{kind}-s{self.seed}-n{self.size_of(batch)}",
                            f"b{batch:04d}")

    # -- extract ------------------------------------------------------------

    def page_url(self, batch: int, k: int) -> str:
        return f"https://bench.example/s{self.seed}/b{batch:04d}/{k:05d}"

    def page_urls(self, batch: int) -> list[str]:
        """The urls first crawled in ``batch`` (its new pages)."""
        return [self.page_url(batch, k) for k in range(self.size_of(batch))]

    def _recrawl_slots(self, batch: int) -> list[int]:
        if batch == 0:
            return []
        rng = _rng(self.seed, 1, batch, 1)
        k = int(round(RECRAWL_SHARE * self.size_of(batch)))
        return sorted(rng.sample(range(self.size_of(batch - 1)), k))

    def recrawled(self, batch: int) -> list[str]:
        """Urls of batch ``batch - 1`` re-sent in ``batch``."""
        return [self.page_url(batch - 1, k) for k in self._recrawl_slots(batch)]

    def _text(self, rng: random.Random, chars: int) -> str:
        words: list[str] = []
        while len(" ".join(words)) < chars:
            words.extend(self.words.words(rng, 50))
        return " ".join(words)

    def _page(self, rng: random.Random, kind: str):
        if kind == "paragraph":
            # GT per region: one ~1,000-char reference line beside a few
            # ordinary ones; the OCR side has line-length segments only
            para = self._text(rng, PARAGRAPH_CHARS)
            lines = _lines(self.words.words(rng, 20), rng)
            segs = [_noise(s, rng) for s in _lines(para.split(), rng)]
            return [para] + lines, segs + _segments(lines, rng)
        words = (self._text(rng, GIANT_CHARS).split() if kind == "giant"
                 else self.words.words(rng, rng.randint(10, 100)))
        lines = _lines(words, rng)
        if rng.random() < 0.3:
            lines.insert(rng.randrange(len(lines) + 1),
                         rng.choice(["ok", "§ 7", "Id.", "42"]))
        return lines, _segments(lines, rng)

    def special_pages(self, batch: int) -> tuple[int, int]:
        """(giants, paragraph pages) of one batch: their shares of its
        size, and at least one of each, so the warm-up runs both paths."""
        n = self.size_of(batch)
        return (max(1, round(GIANT_SHARE * n)), max(1, round(PARAGRAPH_SHARE * n)))

    def page_kind(self, batch: int, k: int) -> str:
        """Giants and paragraph pages sit at fixed, evenly spread slots."""
        giants, paragraphs = self.special_pages(batch)
        step = self.size_of(batch) // (giants + paragraphs + 1)
        g = k // step - 1
        if k % step or not 0 <= g < giants + paragraphs:
            return "normal"
        return "giant" if g < giants else "paragraph"

    def _page_row(self, batch: int, k: int):
        url = self.page_url(batch, k)
        rng = _rng(self.seed, 1, batch, 2, k)
        lines, segs = self._page(rng, self.page_kind(batch, k))
        ts = _BASE_TS + datetime.timedelta(days=batch % 14, seconds=k)
        lang = "de" if k % 3 else "en"
        return url, ts, _html(url, segs), "\n".join(lines), lang

    def pages(self, batch: int) -> str:
        """Parquet directory with batch ``batch``: its new pages (giants and
        paragraph pages at fixed positions, see ``special_pages``) plus the
        re-crawled urls of the batch before, each with its original
        content."""
        path = self._dir("extract", batch)
        if _done(path):
            return path
        import pyarrow as pa
        rows = [self._page_row(batch, k) for k in range(self.size_of(batch))]
        rows += [self._page_row(batch - 1, k) for k in self._recrawl_slots(batch)]
        cols = dict(zip(["url", "warc_ts", "html", "text", "lang"],
                        map(list, zip(*rows))))
        schema = pa.schema([("url", pa.string()),
                            ("warc_ts", pa.timestamp("us", tz="UTC")),
                            ("html", pa.binary()), ("text", pa.string()),
                            ("lang", pa.string())])
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        _write_parquet(tmp, cols, schema, self.files)
        _commit(tmp, path)
        return path

    def page_texts(self, batch: int, k: int):
        """(url, html bytes, text) of one new page, regenerated in memory."""
        url, _, h, text, _ = self._page_row(batch, k)
        return url, h, text

    # -- curate -------------------------------------------------------------

    def doc_ids(self, batch: int) -> range:
        base = (batch + 1) * 10_000_000
        return range(base, base + self.size_of(batch))

    def _doc_plan(self, batch: int):
        """Per-slot roles of one curate batch (deterministic per batch)."""
        n = self.size_of(batch)
        counts = [("exact", EXACT_DUP_SHARE), ("near", NEAR_DUP_SHARE),
                  ("low", LOW_QUALITY_SHARE), ("boiler", BOILERPLATE_SHARE)]
        if batch:
            counts += [("recrawl", RECRAWL_DOCS_SHARE),
                       ("cross_near", CROSS_NEAR_SHARE)]
        roles = ["unique"] * n
        pos = list(range(n))
        _rng(self.seed, 2, batch, 0).shuffle(pos)
        at = 0
        for role, share in counts:
            for _ in range(int(round(share * n))):
                roles[pos[at]] = role
                at += 1
        return roles

    def _anchors(self, batch: int) -> list[int]:
        """Slots of ``batch`` whose docs are unique, clean and never copied
        inside their own batch: safe originals for the next batch's
        planted re-crawls."""
        roles = self._doc_plan(batch)
        sources = set(self._sources(batch, roles))
        return [k for k, r in enumerate(roles) if r == "unique" and k not in sources]

    def _sources(self, batch: int, roles) -> list[int]:
        rng = _rng(self.seed, 2, batch, 1)
        uniques = [k for k, r in enumerate(roles) if r == "unique"]
        n_copy = sum(r in ("exact", "near") for r in roles)
        return rng.sample(uniques, n_copy)

    def _unique_text(self, batch: int, k: int) -> str:
        """A clean document: the two framing stopwords keep it above the
        Gopher minimum of two however the sample falls."""
        rng = _rng(self.seed, 2, batch, 2, k)
        words = self.words.words(rng, rng.randint(60, 140), tag=f"{batch % 97}")
        return " ".join(["the", *words, "of"])

    def docs(self, batch: int) -> tuple[str, dict]:
        """Parquet directory with curate batch ``batch`` plus its plan:
        ``recrawl`` doc_ids (exact copies of the previous batch's anchors;
        must be dropped at ingest), ``cross_near`` (doc_id, original
        doc_id) pairs (near copies compaction must demote) and the
        batch's ``anchors`` doc_ids."""
        path = self._dir("curate", batch)
        roles = self._doc_plan(batch)
        ids = self.doc_ids(batch)
        sources = self._sources(batch, roles)
        rng = _rng(self.seed, 2, batch, 3)
        prev_anchors = self._anchors(batch - 1) if batch else []
        picks = rng.sample(prev_anchors,
                           sum(r in ("recrawl", "cross_near") for r in roles))
        plan = {"recrawl": [], "cross_near": [],
                "anchors": [ids[k] for k in self._anchors(batch)]}
        texts = [None] * len(ids)
        copy_src = iter(sources)
        prev_src = iter(picks)
        boiler = " ".join(self.words.words(_rng(self.seed, 2, batch, 4), 40))
        for k, role in enumerate(roles):
            if role in ("exact", "near"):
                src = next(copy_src)
                t = self._unique_text(batch, src)
                if role == "near":
                    w = t.split()
                    w[len(w) // 2] = "verändert"
                    t = " ".join(w)
            elif role in ("recrawl", "cross_near"):
                src = next(prev_src)
                t = self._unique_text(batch - 1, src)
                orig = self.doc_ids(batch - 1)[src]
                if role == "recrawl":
                    plan["recrawl"].append(ids[k])
                else:
                    w = t.split()
                    w[len(w) // 3] = "verändert"
                    t = " ".join(w)
                    plan["cross_near"].append((ids[k], orig))
            elif role == "low":
                t = " ".join(self.words.words(rng, 20))
            elif role == "boiler":
                t = self._unique_text(batch, k) + " " + boiler
            else:
                t = self._unique_text(batch, k)
            texts[k] = t
        if not _done(path):
            import pyarrow as pa
            schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                                ("lang", pa.string())])
            cols = {"doc_id": list(ids), "text": texts,
                    "lang": ["en" if k % 4 else "de" for k in range(len(ids))]}
            tmp = path + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            _write_parquet(tmp, cols, schema, self.files)
            _commit(tmp, path)
        return path, plan

    # -- ocrd_merge ---------------------------------------------------------

    def workspaces(self, batch: int, pages_per_ws: int) -> str:
        """Corpus directory ``<root>/<ws>/mets.xml`` with ``size`` pages in
        workspaces of ``pages_per_ws``.  The GT partner cycles by page:
        one plaintext file, two plaintext files, a PAGE-XML file, none."""
        path = self._dir("ocrd", batch)
        if _done(path):
            return path
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        for w in range(self.size_of(batch) // pages_per_ws):
            ws = os.path.join(tmp, f"ws{batch:04d}_{w:03d}")
            os.makedirs(os.path.join(ws, "OCR"))
            os.makedirs(os.path.join(ws, "GT"))
            pages = []
            for p in range(pages_per_ws):
                rng = _rng(self.seed, 3, batch, w, p)
                pid = f"PHYS_{p:04d}"
                gt = _lines(self.words.words(rng, rng.randint(60, 140)), rng)
                ocr = _segments(gt, rng)
                _put(ws, f"OCR/{pid}.xml", page_xml(ocr))
                fs = [("OCR", f"OCR_{pid}", MIMETYPE_PAGE, f"OCR/{pid}.xml")]
                mode = p % 4
                if mode == 0:
                    _put(ws, f"GT/{pid}.txt", "\n".join(gt) + "\n")
                    fs.append(("GT", f"GT_{pid}", "text/plain", f"GT/{pid}.txt"))
                elif mode == 1:
                    half = len(gt) // 2
                    _put(ws, f"GT/{pid}_b.txt", "\n".join(gt[half:]) + "\n")
                    _put(ws, f"GT/{pid}_a.txt", "\n".join(gt[:half]) + "\n")
                    fs += [("GT", f"GT_{pid}_b", "text/plain", f"GT/{pid}_b.txt"),
                           ("GT", f"GT_{pid}_a", "text/plain", f"GT/{pid}_a.txt")]
                elif mode == 2:
                    _put(ws, f"GT/{pid}.xml", page_xml(gt))
                    fs.append(("GT", f"GT_{pid}", MIMETYPE_PAGE, f"GT/{pid}.xml"))
                pages.append((pid, fs))
            _put(ws, "mets.xml", mets_xml(pages))
        _commit(tmp, path)
        return path


def _put(ws: str, rel: str, text: str) -> None:
    with open(os.path.join(ws, rel), "w", encoding="utf-8") as f:
        f.write(text)


def page_xml(lines: list[str]) -> str:
    body = "".join(f'<TextLine id="l{j:04d}"><TextEquiv><Unicode>'
                   f"{html.escape(s, quote=False)}</Unicode></TextEquiv>"
                   "</TextLine>" for j, s in enumerate(lines))
    return ('<?xml version="1.0" encoding="UTF-8"?><PcGts xmlns="http://'
            'schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15">'
            '<Page imageWidth="1000" imageHeight="1000">'
            f'<TextRegion id="r0">{body}</TextRegion></Page></PcGts>')


def mets_xml(pages) -> str:
    grps: dict[str, list] = {}
    for _, fs in pages:
        for grp, fid, mime, href in fs:
            grps.setdefault(grp, []).append((fid, mime, href))
    file_sec = "".join(
        f'<mets:fileGrp USE="{grp}">' + "".join(
            f'<mets:file ID="{fid}" MIMETYPE="{mime}"><mets:FLocat '
            f'LOCTYPE="OTHER" xlink:href="{href}"/></mets:file>'
            for fid, mime, href in fs) + "</mets:fileGrp>"
        for grp, fs in grps.items())
    divs = "".join(
        f'<mets:div TYPE="page" ID="{pid}" ORDER="{k + 1}">'
        + "".join(f'<mets:fptr FILEID="{fid}"/>' for _, fid, _, _ in fs)
        + "</mets:div>" for k, (pid, fs) in enumerate(pages))
    return ('<?xml version="1.0" encoding="UTF-8"?><mets:mets xmlns:mets='
            '"http://www.loc.gov/METS/" xmlns:xlink="http://www.w3.org/1999/'
            f'xlink"><mets:fileSec>{file_sec}</mets:fileSec><mets:structMap '
            'TYPE="PHYSICAL"><mets:div TYPE="physSequence">'
            f"{divs}</mets:div></mets:structMap></mets:mets>")
