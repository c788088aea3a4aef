"""Committed-table access shared by the extraction and curation pipelines."""

from __future__ import annotations

from pyspark.errors import AnalysisException

__all__ = ["read_committed"]


def read_committed(spark, path: str):
    """Read a committed parquet table; ``None`` ONLY when it does not exist.

    Any other failure (corrupt file, permission, transient FS error)
    re-raises: treating it as "first run" would skip the resume anti-join
    and re-append the whole batch — silent duplication in a pipeline whose
    contract is idempotent resume."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise
