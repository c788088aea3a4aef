"""The commit layer of both pipelines: append-only parquet tables whose
rows carry the ``run_id`` that wrote them.  A run becomes visible only
when its rows land in the ``marker`` table, its last write, so resume,
read-back and compaction (all through :func:`read_committed`) never see a
crashed run's rows.  :meth:`CommittedTables._write` is the one parquet
append, and so the single Iceberg swap point (``writeTo(t).append()``)."""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

__all__ = ["CommittedTables", "read_committed"]


def _read_table(spark, path: str, schema=None):
    """A parquet table (``schema`` skips the footer-inference job); None
    ONLY when absent or without a data file yet (an empty partitioned
    append writes none).  Any other failure re-raises: a corrupt table
    taken for a first run would re-append the whole batch."""
    try:
        return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


def read_committed(spark, path: str, marker_path: str):
    """Rows of the table at ``path`` whose run_id has a marker row (None
    only when the table does not exist).  The marker table is a few rows
    per run, broadcast as it is: no distinct, no job of its own."""
    table = _read_table(spark, path)
    if table is None:
        return None
    marks = _read_table(spark, marker_path, "run_id string")
    if marks is None:
        return table.where(F.lit(False))
    runs = F.broadcast(marks.select(F.col("run_id").alias("_committed")))
    return table.join(runs, F.col("run_id") == F.col("_committed"), "left_semi")


class CommittedTables:
    """Base of a pipeline; a subclass names its ``marker`` table."""

    def __init__(self, output_dir: str, n_buckets: int):
        self.output_dir = output_dir.rstrip("/")
        self.n_buckets = n_buckets

    def _path(self, subdir: str) -> str:
        return f"{self.output_dir}/{subdir}"

    def _write(self, df, subdir: str, partition_cols=()):
        w = df.write.mode("append")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(self._path(subdir))

    def _read(self, spark, subdir: str):
        """Committed view of a table (None only when it does not exist)."""
        self._settle(spark, subdir)
        return read_committed(spark, self._path(subdir), self._path(self.marker))

    def _resume(self, spark, df, subdir: str, key: str, skipped=None):
        """``df`` without rows whose ``key`` is committed in ``subdir``; the
        Observation ``skipped`` counts them (``n``).  A flagged left join,
        not an anti-join, so the observation sits above the join: AQE
        prunes a join it finds empty with any observed node under it."""
        done = self._read(spark, subdir)
        if done is None:
            flagged = df.withColumn("_done", F.lit(None).cast("boolean"))
        else:
            flagged = df.join(done.select(key).distinct()
                              .withColumn("_done", F.lit(True)), key, "left")
        if skipped is not None:
            flagged = flagged.observe(skipped, F.count("_done").alias("n"))
        return flagged.where(F.col("_done").isNull()).drop("_done")

    def _run_id(self, spark, run_id, prefix: str, subdir: str) -> str:
        """A uuid, or the caller's ``run_id`` unless rows of ``subdir`` have
        it: a crashed attempt's rows would commit with the retry's marker."""
        if run_id is None:
            return f"{prefix}-{uuid.uuid4().hex[:16]}"
        self._settle(spark, subdir)
        table = _read_table(spark, self._path(subdir))
        if table is not None and not table.where(F.col("run_id") == run_id).isEmpty():
            raise ValueError(f"run_id {run_id!r} already has rows in {subdir}")
        return run_id

    def _tag(self, df, run_id: str, bucket_by: str | None = None):
        """``df`` + ``run_id`` [+ ``bucket = pmod(xxhash64(bucket_by), k)``]."""
        if bucket_by is not None:
            df = df.withColumn("bucket", F.pmod(F.xxhash64(bucket_by),
                                                F.lit(self.n_buckets)).cast("int"))
        return df.withColumn("run_id", F.lit(run_id))

    def _run_rows(self, spark, subdir: str, run_id: str, schema):
        """This run's rows of ``subdir`` after it appended a frame with
        ``schema``: one scan instead of re-running the plan."""
        table = _read_table(spark, self._path(subdir))
        if table is None:
            return spark.createDataFrame([], schema)
        return table.where(F.col("run_id") == run_id)

    def _replace(self, spark, subdir: str, df, partition_cols=()):
        """Snapshot-replace a table by ``df`` (an Iceberg REPLACE stand-in):
        written beside the live copy, then swapped in; returns its count."""
        (df.write.mode("overwrite").partitionBy(*partition_cols)
         .parquet(self._path(subdir + "__compacting")))
        return self._settle(spark, subdir)

    def _settle(self, spark, subdir: str):
        """Finish or undo a pending swap: a complete new copy (``_SUCCESS``)
        rolls forward, an incomplete one is dropped; the old copy returns
        if no live one exists, else goes once the live one reads back (its
        row count is returned)."""
        live, new, old = (self._path(subdir + s)
                          for s in ("", "__compacting", "__precompact"))
        if os.path.isdir(new) and not os.path.exists(f"{new}/_SUCCESS"):
            shutil.rmtree(new)
        if os.path.isdir(new):
            if os.path.isdir(live):
                shutil.rmtree(old, ignore_errors=True)
                os.rename(live, old)
            os.rename(new, live)
        if not os.path.isdir(old):
            return None
        if not os.path.isdir(live):
            os.rename(old, live)
            return None
        table = _read_table(spark, live)
        n = 0 if table is None else table.count()
        shutil.rmtree(old)
        return n
