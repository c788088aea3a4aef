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


class Killed(Exception):
    pass


@pytest.mark.parametrize("k", [1, 2, 3])
def test_run_survives_a_kill_before_every_write(spark, sf_small, outdir, k):
    """A run killed before its k-th table append leaves nothing visible: a
    re-run of the same batch aligns every url of it exactly once, and
    ``extracted`` holds each of them once (a crash after ``aligned`` used
    to make the re-run skip the crashed run's urls, losing them from
    ``extracted``)."""
    from pyspark.sql import functions as F

    from nmalign_spark.plans.tables import read_committed

    pages = pages_from_documents(spark, sf_small).limit(12).cache()
    pipe = ExtractionPipeline(outdir, n_buckets=2)
    pipe.run(spark, pages.limit(4), run_id="r0")
    write, calls = pipe._write, []

    def dying(df, subdir, partition_cols=()):
        calls.append(subdir)
        if len(calls) == k:
            raise Killed(subdir)
        write(df, subdir, partition_cols)

    pipe._write = dying
    with pytest.raises(Killed):
        pipe.run(spark, pages, run_id="crashed")
    pipe._write = write
    if k > 1:  # the crashed attempt's rows must not ride a retry's marker
        with pytest.raises(ValueError):
            pipe.run(spark, pages, run_id="crashed")
    s = pipe.run(spark, pages)
    assert s["pages_skipped_resume"] == 4
    assert s["pages_aligned"] == 12

    def committed(subdir):
        return read_committed(spark, f"{outdir}/{subdir}", f"{outdir}/_lineage")

    aligned = committed("aligned")
    per_url = aligned.groupBy("url").agg(F.countDistinct("run_id").alias("runs"))
    assert per_url.count() == 12 and per_url.where("runs > 1").count() == 0
    assert aligned.count() == aligned.dropDuplicates(["url", "i"]).count()
    extracted = {r.url: r.n for r in committed("extracted").groupBy("url")
                 .agg(F.count(F.lit(1)).alias("n")).collect()}
    matched = {r.url for r in aligned.where("j >= 0").select("url").distinct().collect()}
    assert set(extracted) == matched and set(extracted.values()) == {1}
    runs = {r.run_id for r in committed("_lineage").select("run_id").distinct().collect()}
    assert runs == {"r0", s["run_id"]}


def test_run_stats_make_no_count_pass(spark, sf_small, outdir, monkeypatch):
    """The run stats of an empty first batch, a first run, a partial
    resume, an all-skipped re-run and an empty batch come from the writes
    themselves: no ``DataFrame.count``.  The last batch runs with a
    shuffled resume join, whose empty side AQE sees at run time and prunes
    the join."""
    pages = pages_from_documents(spark, sf_small).limit(40).cache()
    first = pages.limit(25)

    def no_count(self):
        raise AssertionError("DataFrame.count called")

    monkeypatch.setattr(type(pages), "count", no_count)
    pipe = ExtractionPipeline(outdir, n_buckets=4)
    s0 = pipe.run(spark, pages.where("length(text) < 0"), run_id="r0")
    assert (s0["pages_skipped_resume"], s0["pages_aligned"], s0["rows_total"]) == (0, 0, 0)
    s1 = pipe.run(spark, first, run_id="r1")
    assert (s1["pages_skipped_resume"], s1["pages_aligned"]) == (0, 25)
    s2 = pipe.run(spark, pages, run_id="r2")
    assert (s2["pages_skipped_resume"], s2["pages_aligned"]) == (25, 40)
    s3 = pipe.run(spark, pages, run_id="r3")
    assert (s3["pages_skipped_resume"], s3["pages_aligned"]) == (40, 40)
    assert s3["rows_total"] == s2["rows_total"] > s1["rows_total"]
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        s4 = pipe.run(spark, pages.where("length(text) < 0"), run_id="r4")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert (s4["pages_skipped_resume"], s4["pages_aligned"]) == (0, 40)
