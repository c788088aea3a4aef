"""End-to-end pipeline: partitioned write, resume anti-join, lineage."""

import pytest

from nmalign_spark.plans.pipeline import ExtractionPipeline
from nmalign_spark.sources.pages import pages_from_documents


@pytest.fixture()
def outdir(tmp_path):
    return str(tmp_path / "out")


def test_pipeline_run_and_resume(spark, sf_small, outdir):
    pages = pages_from_documents(spark, sf_small).limit(40).cache()
    pipe = ExtractionPipeline(outdir, n_buckets=4)
    first = pages.limit(25)
    s1 = pipe.run(spark, first, run_id="r1")
    assert s1["pages_skipped_resume"] == 0
    assert s1["pages_aligned"] == 25
    # partition layout on disk
    committed = spark.read.parquet(f"{outdir}/aligned")
    assert {"crawl_date", "bucket"}.issubset(set(committed.columns))
    assert committed.select("bucket").distinct().count() <= 4
    # resume: run over the full 40 — the 25 committed must be skipped
    s2 = pipe.run(spark, pages, run_id="r2")
    assert s2["pages_skipped_resume"] == 25
    assert s2["pages_aligned"] == 40
    # no duplicated urls after resume
    assert committed.count() == committed.dropDuplicates(["url", "i"]).count()
    # lineage has both runs
    lineage = spark.read.parquet(f"{outdir}/_lineage")
    assert {r.run_id for r in lineage.select("run_id").distinct().collect()} == {"r1", "r2"}
    assert lineage.where("n_pages <= 0").count() == 0


def test_pipeline_idempotent_when_all_committed(spark, sf_small, outdir):
    pages = pages_from_documents(spark, sf_small).limit(10).cache()
    pipe = ExtractionPipeline(outdir, n_buckets=2)
    pipe.run(spark, pages, run_id="a")
    before = spark.read.parquet(f"{outdir}/aligned").count()
    s = pipe.run(spark, pages, run_id="b")
    assert s["pages_skipped_resume"] == 10
    after = spark.read.parquet(f"{outdir}/aligned").count()
    assert before == after


def test_unreadable_aligned_table_is_not_first_run(spark, sf_small, outdir):
    """A corrupt committed ``aligned/`` must abort the run before anything
    new lands in it — not be taken for a first run and re-appended."""
    import os
    aligned = os.path.join(outdir, "aligned")
    os.makedirs(aligned)
    with open(os.path.join(aligned, "part-corrupt.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    pages = pages_from_documents(spark, sf_small).limit(5)
    with pytest.raises(Exception) as exc:
        ExtractionPipeline(outdir).run(spark, pages)
    assert "PATH_NOT_FOUND" not in str(exc.value)
    landed = [os.path.join(d, f) for d, _, fs in os.walk(aligned) for f in fs]
    assert landed == [os.path.join(aligned, "part-corrupt.parquet")]
