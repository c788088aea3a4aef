"""End-to-end extraction job: pages -> extract -> align -> partitioned,
resumable, lineage-tracked output (the north_rule pipeline).

Scale design (BASELINE.json north_rule / SURVEY.md §7 step 7):

* **Partitioning** — output laid out by ``crawl_date`` (from ``warc_ts``) and
  ``bucket = pmod(xxhash64(url), n_buckets)``: the Iceberg layout
  ``partitionedBy(days(warc_ts), bucket(k, url))`` expressed with plain
  parquet partition columns (this sandbox has no Iceberg jar; the writer is
  isolated in :meth:`ExtractionPipeline._write` so an Iceberg ``writeTo``
  is a one-line swap).
* **Resume (R7)** — the committed partitions ARE the checkpoint: a rerun
  anti-joins the input against the distinct urls already present in the
  output (transactional per partition-directory; mirrors the reference's
  skip-existing-output guard, /root/reference/nmalign/ocrd/cli.py:178-184).
* **Skew** — pages are routed by kernel-cost proxy (:func:`route_skew`):
  giant pages take the matrix-chunk salted path (operators/salt.py): their
  N×M similarity matrix is scored in row chunks across tasks and reassembled
  before the sequential assignment loop — bit-identical output, no executor
  core pinned by one page (north_star: "skewed giant pages are salted and
  re-merged deterministically").
* **Lineage + metrics** — per (run_id, crawl_date, bucket): row counts,
  match counts, mean score, appended to ``_lineage`` (the reference's shared
  stats dict, ocrd/cli.py:111-118, as a table).
* **No driver-side loops** — every step is a DataFrame op.  Aligning the
  normal pages is a narrow mapInPandas; the shuffles are the salted giant
  branch's two (operators/salt.py), the tiny lineage aggregation, and the
  resume anti-join (a broadcast when the committed-url set is small, else
  AQE picks a shuffle join).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import functions as F

from ..functions.normalize import DEFAULT_NORMALIZATION
from ..operators.align import align_pages, route_skew
from ..operators.assemble import assemble_pages
from ..operators.salt import salted_align
from .tables import read_committed

__all__ = ["ExtractionPipeline"]


class ExtractionPipeline:
    def __init__(self, output_dir: str, normalization=None, cutoff=None,
                 try_subseg: bool = True, n_buckets: int = 16,
                 giant_chars: int = 20_000):
        self.output_dir = output_dir.rstrip("/")
        self.normalization = DEFAULT_NORMALIZATION if normalization is None else normalization
        self.cutoff = cutoff
        self.try_subseg = try_subseg
        self.n_buckets = n_buckets
        self.giant_chars = giant_chars

    # -- helpers ------------------------------------------------------------

    def _committed_urls(self, spark):
        """Distinct urls already in the output (None on the first run)."""
        committed = read_committed(spark, f"{self.output_dir}/aligned")
        return None if committed is None else committed.select("url").distinct()

    def _align(self, pages):
        return align_pages(pages, normalization=self.normalization,
                           cutoff=self.cutoff, try_subseg=self.try_subseg,
                           passthrough=("warc_ts", "lang"))

    def _write(self, df, subdir: str, partition_cols=()):
        w = df.write.mode("append")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(f"{self.output_dir}/{subdir}")

    # -- main ---------------------------------------------------------------

    def run(self, spark, pages_df, run_id: str | None = None) -> dict:
        """Execute (or resume) the job; returns run stats."""
        # uuid, not a second-resolution timestamp: two runs started within
        # the same second must not share a run_id (the this_run filter would
        # double-count the other run's rows in extracted/ and _lineage)
        run_id = run_id or f"run-{uuid.uuid4().hex[:16]}"
        t0 = time.time()
        pages = pages_df
        done = self._committed_urls(spark)
        n_skipped = 0
        if done is not None:
            n_before = pages.count()
            pages = pages.join(done, "url", "left_anti")
            n_skipped = n_before - pages.count()
        normal, giants = route_skew(pages, self.giant_chars)
        fast = self._align(normal)
        # giants: matrix-chunk salting; warc_ts/lang ride through the salted
        # path as passthrough columns — a join-back by url would fan out
        # duplicate-url rows (re-crawled pages) and double-count them
        slow = salted_align(giants, normalization=self.normalization,
                            cutoff=self.cutoff, try_subseg=self.try_subseg,
                            passthrough=("warc_ts", "lang"))
        aligned = fast.unionByName(slow.select(*fast.columns))
        out = (aligned
               .withColumn("crawl_date", F.to_date("warc_ts"))
               .withColumn("bucket", F.pmod(F.xxhash64("url"),
                                            F.lit(self.n_buckets)).cast("int"))
               .withColumn("run_id", F.lit(run_id))
               .drop("warc_ts"))
        self._write(out, "aligned", ("crawl_date", "bucket"))
        committed = spark.read.parquet(f"{self.output_dir}/aligned")
        # A4 roll-up: one assembled text per url.  Assembling from the
        # read-back of THIS run's rows (run_id filter) costs one columnar
        # scan instead of re-running the alignment kernel, and keeps resume
        # append-only (prior runs' urls are already in extracted/).
        this_run = committed.where(F.col("run_id") == run_id)
        self._write(assemble_pages(this_run), "extracted")
        lineage = (this_run.groupBy("crawl_date", "bucket")
                   .agg(F.count(F.lit(1)).alias("n_rows"),
                        F.count_distinct("url").alias("n_pages"),
                        F.sum((F.col("j") >= 0).cast("int")).alias("n_matched"),
                        F.avg(F.when(F.col("j") >= 0, F.col("score"))).alias("avg_score"))
                   .withColumn("run_id", F.lit(run_id))
                   .withColumn("committed_at", F.current_timestamp()))
        self._write(lineage, "_lineage")
        stats = {
            "run_id": run_id,
            "wall_sec": round(time.time() - t0, 3),
            "pages_skipped_resume": int(n_skipped),
            "pages_aligned": committed.select("url").distinct().count(),
            "rows_total": committed.count(),
        }
        return stats
