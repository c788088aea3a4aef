"""End-to-end curation job: documents -> stacked verdict -> partitioned,
resumable, lineage-tracked clean corpus (the curation counterpart of
plans/pipeline.ExtractionPipeline, same scale design).

* **Partitioning** — the clean corpus lands partitioned by ``lang`` and
  ``bucket = pmod(xxhash64(doc_id), n_buckets)`` (the Iceberg
  ``partitionedBy(lang, bucket(k, doc_id))`` layout as plain parquet
  partition columns; an Iceberg ``writeTo`` is a one-line swap in
  :meth:`CurationPipeline._write`).
* **Resume** — the committed partitions ARE the checkpoint: a rerun
  anti-joins the incoming batch against the doc_ids already in the
  output, so a crashed or repeated run never re-curates or duplicates.
* **Incremental dedup across runs** — every run appends its kept docs'
  ``md5(text)`` to a committed ``_hashes`` index; the next batch drops
  any document whose text is already in the corpus BEFORE the verdict
  runs (the at-ingest join of ``dedup.incremental_dedup``, here as the
  standing pipeline step).  Near-dup/span tiers are batch-local by
  design — crawl curation runs them per-snapshot; cross-snapshot
  near-dedup is the periodic :meth:`CurationPipeline.compact` job, not
  an ingest step.
* **Verdict** — :func:`~..operators.dedup.curation_verdict_df` over the
  incoming batch: Gopher gate scan-side, exact-dup window, df-capped
  near-dup components, span fraction, optional benchmark
  decontamination against :func:`~..operators.dedup.benchmark_gram_hashes`
  (a broadcast gram-hash table — the corpus side never shuffles grams).
* **Lineage + metrics** — per (run_id, lang, bucket): kept counts plus
  per-rule drop tallies appended to ``_lineage``; the drop-rate per rule
  per partition is one scan away.
* **No driver-side loops** — every step is a DataFrame op; only the
  components' O(log diameter) label rounds iterate, each round fully
  distributed.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import functions as F

from ..operators.dedup import (benchmark_gram_hashes,
                               compaction_demotions_df, curation_verdict_df,
                               unpersist_caches)
from .tables import read_committed

__all__ = ["CurationPipeline"]


class CurationPipeline:
    def __init__(self, output_dir: str, n_buckets: int = 16,
                 bench_df=None):
        self.output_dir = output_dir.rstrip("/")
        self.n_buckets = n_buckets
        self.bench_df = bench_df

    # -- helpers ------------------------------------------------------------

    def _read(self, spark, subdir: str):
        """Read a committed side table (None only when it doesn't exist)."""
        return read_committed(spark, f"{self.output_dir}/{subdir}")

    def _write(self, df, subdir: str, partition_cols=()):
        w = df.write.mode("append")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(f"{self.output_dir}/{subdir}")

    # -- main ---------------------------------------------------------------

    def run(self, spark, docs_df, run_id: str | None = None) -> dict:
        """Curate (or resume curating) a batch; returns run stats.

        ``docs_df``: (doc_id, text, lang [, ...]) — extra columns ride
        through to the clean corpus untouched.
        """
        run_id = run_id or f"cur-{uuid.uuid4().hex[:16]}"
        t0 = time.time()
        n_in = docs_df.count()

        # resume: drop doc_ids already committed (idempotent reruns)
        committed = self._read(spark, "corpus")
        docs = docs_df
        n_resumed = 0
        if committed is not None:
            docs = docs.join(committed.select("doc_id").distinct(),
                             "doc_id", "left_anti")
            n_resumed = n_in - docs.count()

        # incremental exact dedup vs the committed hash index: a document
        # whose text already lives in the corpus is dropped pre-verdict
        # (one keyed left-anti join on md5 — hash-pruned, AQE-planned).
        # The index is DERIVED state: the corpus is the source of truth,
        # so before trusting it, self-heal any corpus run_id whose hash
        # rows are missing (a crash between the corpus commit and the
        # index append).  The probe is column-pruned (run_id only) — a
        # metadata-cheap scan, not a corpus re-read.
        hashes = self._read(spark, "_hashes")
        if committed is not None:
            missing = committed if hashes is None else committed.join(
                hashes.select("run_id").distinct(), "run_id", "left_anti")
            repair = missing.select(
                "doc_id", F.md5("text").alias("h"), "run_id")
            if not repair.isEmpty():
                self._write(repair, "_hashes")
                hashes = self._read(spark, "_hashes")
        n_committed_dup = 0
        if hashes is not None:
            n_before = docs.count()
            docs = (docs.withColumn("_h", F.md5("text"))
                    .join(hashes.select(F.col("h").alias("_h")).distinct(),
                          "_h", "left_anti")
                    .drop("_h"))
            n_committed_dup = n_before - docs.count()

        bench_hashes = (benchmark_gram_hashes(self.bench_df)
                        if self.bench_df is not None else None)
        verdict = curation_verdict_df(
            docs.select("doc_id", "text"),
            bench_hashes=bench_hashes).cache()
        # per-rule tallies BEFORE the corpus append: the verdict's plan
        # reads the corpus (resume anti-join), and the append invalidates
        # its cache, so an aggregate taken after it would re-judge the batch
        # against the grown corpus
        tallies = verdict.agg(
            F.count(F.lit(1)).alias("n_judged"),
            F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
            F.sum((~F.col("pass_gopher")).cast("long")).alias("n_gopher"),
            F.sum(F.col("is_near_dup").cast("long")).alias("n_near_dup"),
            F.sum(F.col("high_span_dup").cast("long")).alias("n_high_span"),
            F.sum(F.col("is_contaminated").cast("long"))
            .alias("n_contaminated"))
        rules = spark.createDataFrame([tallies.first()], tallies.schema) \
            .withColumn("run_id", F.lit(run_id))
        kept = (docs.join(verdict.where("keep").select("doc_id"), "doc_id")
                .withColumn("bucket",
                            F.pmod(F.xxhash64("doc_id"),
                                   F.lit(self.n_buckets)).cast("int"))
                .withColumn("run_id", F.lit(run_id)))
        self._write(kept, "corpus", ("lang", "bucket"))
        this_run = (self._read(spark, "corpus")
                    .where(F.col("run_id") == run_id))
        n_kept = this_run.count()
        # commit the hash index from the read-back (one columnar scan,
        # append-only, keyed by run_id so a missed append is detectable
        # and rebuilt by the next run's self-heal above)
        self._write(this_run.select("doc_id", F.md5("text").alias("h"),
                                    "run_id"),
                    "_hashes")
        # lineage: kept counts per partition + per-rule drop tallies
        part = (this_run.groupBy("lang", "bucket")
                .agg(F.count(F.lit(1)).alias("n_kept"))
                .withColumn("run_id", F.lit(run_id)))
        self._write(part, "_lineage")
        self._write(rules, "_rules")
        verdict.unpersist()
        unpersist_caches()  # internal shingle-group/edge caches (dedup.py)
        return {"run_id": run_id, "n_in": n_in, "n_resumed": n_resumed,
                "n_committed_dup": n_committed_dup, "n_kept": n_kept,
                "secs": round(time.time() - t0, 2)}

    def compact(self, spark) -> dict:
        """Periodic cross-snapshot near-dup compaction (the job the ingest
        path defers to — see module docstring): close the exact/near-dup
        component graph over the WHOLE committed corpus and drop every
        non-canonical member, so a near-duplicate of an earlier run's kept
        doc (invisible to the exact-only at-ingest index and the
        batch-local verdict) is demoted.  Canonical = min doc_id
        (operators/dedup.compaction_demotions_df).

        The rewrite is snapshot-replace: the compacted corpus is written
        beside the live one, then swapped in one directory rename — the
        plain-parquet stand-in for an Iceberg ``rewrite_data_files`` /
        REPLACE snapshot commit.  ``_hashes`` keeps the demoted docs'
        text hashes on purpose: a later re-crawl of a demoted text is
        still a duplicate and should still be dropped at ingest."""
        import os
        import shutil
        t0 = time.time()
        corpus = self._read(spark, "corpus")
        if corpus is None:
            return {"n_before": 0, "n_dropped": 0, "secs": 0.0}
        demote = compaction_demotions_df(corpus).select("doc_id")
        n_before = corpus.count()
        kept = corpus.join(demote, "doc_id", "left_anti")
        tmp = f"{self.output_dir}/corpus__compacting"
        (kept.write.mode("overwrite").partitionBy("lang", "bucket")
         .parquet(tmp))
        unpersist_caches()
        live = f"{self.output_dir}/corpus"
        old = f"{self.output_dir}/corpus__precompact"
        os.rename(live, old)
        os.rename(tmp, live)
        shutil.rmtree(old)
        n_after = self._read(spark, "corpus").count()
        stats = spark.createDataFrame(
            [(n_before, n_before - n_after)],
            "n_before long, n_dropped long")
        self._write(stats.withColumn("compacted_at",
                                     F.current_timestamp()), "_compactions")
        return {"n_before": n_before, "n_dropped": n_before - n_after,
                "secs": round(time.time() - t0, 2)}
