"""End-to-end extraction job: pages -> extract -> align -> partitioned,
resumable, lineage-tracked output (the north_rule pipeline; BASELINE.json
north_rule / SURVEY.md §7 step 7).

* **Partitioning** — by ``crawl_date`` (from ``warc_ts``) and ``bucket =
  pmod(xxhash64(url), n_buckets)``: the Iceberg layout ``partitionedBy(
  days(warc_ts), bucket(k, url))`` as plain parquet partition columns.
* **Commit + resume (R7)** — on the commit layer shared with the curation
  job (``plans/tables.py``).  A run appends ``aligned``, ``extracted`` and
  last its ``_lineage`` rows, its commit marker.  The committed runs ARE
  the checkpoint: a rerun drops the urls of the committed ``aligned`` rows
  (the reference's skip-existing-output guard, ocrd/cli.py:178-184) and
  counts them with an ``observe`` that rides the ``aligned`` write.
* **Skew** — giant pages (:func:`route_skew`, cost proxy = text length)
  take the matrix-chunk salted path (operators/salt.py): their similarity
  matrix is scored in row chunks across tasks and reassembled before the
  sequential assignment loop — bit-identical output, no core pinned by one
  page.  Normal pages take a narrow mapInPandas; the other shuffles are
  the tiny lineage aggregation and the resume join.
* **Lineage** — per (run_id, crawl_date, bucket): row and match counts,
  mean score (the reference's shared stats dict, ocrd/cli.py:111-118, as a
  table).
"""

from __future__ import annotations

import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from ..functions.normalize import DEFAULT_NORMALIZATION
from ..operators.align import align_pages, route_skew
from ..operators.assemble import assemble_pages
from ..operators.salt import salted_align
from .tables import CommittedTables

__all__ = ["ExtractionPipeline"]


class ExtractionPipeline(CommittedTables):
    marker = "_lineage"

    def __init__(self, output_dir: str, normalization=None, cutoff=None,
                 try_subseg: bool = True, n_buckets: int = 16,
                 giant_chars: int = 20_000):
        super().__init__(output_dir, n_buckets)
        self.normalization = DEFAULT_NORMALIZATION if normalization is None else normalization
        self.cutoff = cutoff
        self.try_subseg = try_subseg
        self.giant_chars = giant_chars

    def _align(self, pages):
        return align_pages(pages, normalization=self.normalization,
                           cutoff=self.cutoff, try_subseg=self.try_subseg,
                           passthrough=("warc_ts", "lang"))

    def run(self, spark, pages_df, run_id: str | None = None) -> dict:
        """Execute (or resume) the job; returns run stats."""
        run_id = self._run_id(spark, run_id, "run", "aligned")
        t0 = time.time()
        skipped = Observation()  # rides the aligned write: no pass of its own
        pages = self._resume(spark, pages_df, "aligned", "url", skipped)
        normal, giants = route_skew(pages, self.giant_chars)
        fast = self._align(normal)
        # giants: matrix-chunk salting; warc_ts/lang ride through the salted
        # path as passthrough columns — a join-back by url would fan out
        # duplicate-url rows (re-crawled pages) and double-count them
        slow = salted_align(giants, normalization=self.normalization,
                            cutoff=self.cutoff, try_subseg=self.try_subseg,
                            passthrough=("warc_ts", "lang"))
        aligned = (fast.unionByName(slow.select(*fast.columns))
                   .withColumn("crawl_date", F.to_date("warc_ts"))
                   .drop("warc_ts"))
        out = self._tag(aligned, run_id, "url")
        self._write(out, "aligned", ("crawl_date", "bucket"))
        # A4 roll-up: one assembled text per url, from the read-back of
        # THIS run's rows instead of re-running the alignment kernel
        this_run = self._run_rows(spark, "aligned", run_id, out.schema)
        self._write(self._tag(assemble_pages(this_run), run_id), "extracted")
        lineage = (this_run.groupBy("crawl_date", "bucket")
                   .agg(F.count(F.lit(1)).alias("n_rows"),
                        F.count_distinct("url").alias("n_pages"),
                        F.sum((F.col("j") >= 0).cast("int")).alias("n_matched"),
                        F.avg(F.when(F.col("j") >= 0, F.col("score"))).alias("avg_score")))
        self._write(self._tag(lineage, run_id)
                    .withColumn("committed_at", F.current_timestamp()),
                    "_lineage")  # the marker: this run is now committed
        committed = self._read(spark, "aligned")
        pages_aligned, rows_total = (0, 0) if committed is None else committed.agg(
            F.count_distinct("url"), F.count(F.lit(1))).first()
        return {"run_id": run_id, "wall_sec": round(time.time() - t0, 3),
                "pages_skipped_resume": skipped.get["n"],
                "pages_aligned": pages_aligned, "rows_total": rows_total}
