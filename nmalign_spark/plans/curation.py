"""End-to-end curation job: documents -> stacked verdict -> partitioned,
resumable, lineage-tracked clean corpus (the curation counterpart of
plans/pipeline.ExtractionPipeline, same scale design).

* **Partitioning** — by ``lang`` and ``bucket = pmod(xxhash64(doc_id),
  n_buckets)`` (Iceberg ``partitionedBy(lang, bucket(k, doc_id))`` as
  plain parquet partition columns).
* **Commit + resume** — on the commit layer shared with the extraction
  job (``plans/tables.py``).  A run appends ``corpus``, ``_hashes``,
  ``_lineage`` and last its one ``_rules`` row, its commit marker.  The
  committed runs ARE the checkpoint: a rerun drops the doc_ids of the
  committed corpus, so no run re-curates or duplicates.
* **Incremental dedup across runs** — a run appends its kept docs'
  ``md5(text)`` to the ``_hashes`` index; the next batch drops any
  document whose text is already in the corpus BEFORE the verdict runs.
  Near-dup/span tiers are batch-local by design; cross-snapshot near-dedup
  is the periodic :meth:`CurationPipeline.compact` job.
* **Verdict** — :func:`~..operators.dedup.curation_verdict_df` (Gopher,
  exact-dup window, df-capped near-dup components, span fraction, optional
  decontamination against a broadcast benchmark gram-hash table).
* **Lineage** — kept counts per (run_id, lang, bucket) in ``_lineage``;
  per-rule drop tallies per run in ``_rules``.
"""

from __future__ import annotations

import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from ..operators.dedup import (benchmark_gram_hashes,
                               compaction_demotions_df, curation_verdict_df,
                               materialize)
from .tables import CommittedTables

__all__ = ["CurationPipeline"]


class CurationPipeline(CommittedTables):
    marker = "_rules"

    def __init__(self, output_dir: str, n_buckets: int = 16,
                 bench_df=None):
        super().__init__(output_dir, n_buckets)
        self.bench_df = bench_df

    def run(self, spark, docs_df, run_id: str | None = None) -> dict:
        """Curate (or resume curating) a batch; returns run stats.

        ``docs_df``: (doc_id, text, lang [, ...]) — extra columns ride
        through to the clean corpus untouched.
        """
        run_id = self._run_id(spark, run_id, "cur", "corpus")
        t0 = time.time()
        # incremental exact dedup vs the committed hash index: a document
        # whose text already lives in the corpus is flagged (`_dup`) by one
        # keyed left join on md5, and dropped before the verdict.  The
        # resume join comes after it, so that the resumed count is observed
        # above the last join: AQE drops an observed node under a join it
        # finds empty at run time (an empty batch, PLANS.md §6)
        hashes = self._read(spark, "_hashes")
        if hashes is None:
            docs = docs_df.withColumn("_dup", F.lit(None).cast("boolean"))
        else:
            docs = (docs_df.withColumn("_h", F.md5("text"))
                    .join(hashes.select(F.col("h").alias("_h")).distinct()
                          .withColumn("_dup", F.lit(True)), "_h", "left")
                    .drop("_h"))
        # the judged batch: every branch below reads this checkpoint, never
        # the committed tables again
        resumed = Observation()
        batch = materialize(
            self._resume(spark, docs, "corpus", "doc_id", resumed))
        n_todo, n_committed_dup = batch.agg(
            F.count(F.lit(1)), F.count("_dup")).first()
        n_resumed = resumed.get["n"]
        docs = batch.where(F.col("_dup").isNull()).drop("_dup")

        bench_hashes = (benchmark_gram_hashes(self.bench_df)
                        if self.bench_df is not None else None)
        verdict = materialize(curation_verdict_df(
            docs.select("doc_id", "text"), bench_hashes=bench_hashes))
        # per-rule tallies of the judged batch: the verdict is a checkpoint,
        # so the corpus append below cannot make it re-judge the batch
        # against the grown corpus
        tallies = verdict.agg(
            F.count(F.lit(1)).alias("n_judged"),
            F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
            F.sum((~F.col("pass_gopher")).cast("long")).alias("n_gopher"),
            F.sum(F.col("is_near_dup").cast("long")).alias("n_near_dup"),
            F.sum(F.col("high_span_dup").cast("long")).alias("n_high_span"),
            F.sum(F.col("is_contaminated").cast("long"))
            .alias("n_contaminated"))
        # n_kept is observed at the root of the written frame: under the
        # join, AQE would prune it with the join of a batch that keeps nothing
        kept_obs = Observation()
        kept = self._tag(docs.join(verdict.where("keep").select("doc_id"),
                                   "doc_id"), run_id, "doc_id")
        self._write(kept.observe(kept_obs, F.count(F.lit(1)).alias("n")),
                    "corpus", ("lang", "bucket"))
        this_run = self._run_rows(spark, "corpus", run_id, kept.schema)
        self._write(this_run.select("doc_id", F.md5("text").alias("h"),
                                    "run_id"), "_hashes")
        self._write(self._tag(this_run.groupBy("lang", "bucket")
                              .agg(F.count(F.lit(1)).alias("n_kept")), run_id),
                    "_lineage")
        self._write(self._tag(tallies, run_id), "_rules")  # the marker: committed
        return {"run_id": run_id, "n_in": n_todo + n_resumed,
                "n_resumed": n_resumed, "n_committed_dup": n_committed_dup,
                "n_kept": kept_obs.get["n"],
                "secs": round(time.time() - t0, 2)}

    def compact(self, spark) -> dict:
        """Periodic cross-snapshot near-dup compaction (the job the ingest
        path defers to): close the exact/near-dup component graph over the
        WHOLE committed corpus and drop every non-canonical member (min
        doc_id is canonical, operators/dedup.compaction_demotions_df), so a
        near-duplicate of an earlier run's kept doc is demoted.  The rewrite
        is a crash-safe snapshot replace (:meth:`_replace`).  ``_hashes``
        keeps the demoted docs' text hashes on purpose: a later re-crawl of
        a demoted text is still a duplicate and is still dropped at ingest."""
        t0 = time.time()
        corpus = self._read(spark, "corpus")
        if corpus is None:
            return {"n_before": 0, "n_dropped": 0, "secs": 0.0}
        demote = compaction_demotions_df(corpus).select("doc_id")
        n_before = corpus.count()
        n_after = self._replace(spark, "corpus",
                                corpus.join(demote, "doc_id", "left_anti"),
                                ("lang", "bucket"))
        stats = {"n_before": n_before, "n_dropped": n_before - n_after}
        self._write(spark.createDataFrame([stats], "n_before long, n_dropped long")
                    .withColumn("compacted_at", F.current_timestamp()), "_compactions")
        return {**stats, "secs": round(time.time() - t0, 2)}
