"""CurationPipeline: resumable, lineage-tracked clean-corpus writes with
at-ingest incremental dedup against the committed hash index."""

import pyspark.sql.functions as F

from nmalign_spark.plans.curation import CurationPipeline


def _docs(spark, sf_small):
    return (spark.read.parquet(f"{sf_small}/documents.parquet")
            .select("doc_id", "text", "lang"))


def test_first_run_writes_partitioned_corpus_and_lineage(spark, sf_small,
                                                         tmp_path):
    out = str(tmp_path / "cur")
    docs = _docs(spark, sf_small)
    stats = CurationPipeline(out).run(spark, docs)
    assert stats["n_in"] == docs.count()
    assert stats["n_resumed"] == 0 and stats["n_committed_dup"] == 0
    assert 0 < stats["n_kept"] < stats["n_in"]
    corpus = spark.read.parquet(f"{out}/corpus")
    assert corpus.count() == stats["n_kept"]
    # partition layout: lang + doc_id-hash bucket (prunable scan)
    assert {"lang", "bucket"} <= set(corpus.columns)
    assert corpus.select("bucket").distinct().count() > 1
    rules = spark.read.parquet(f"{out}/_rules").collect()[0]
    assert rules["n_judged"] == stats["n_in"]
    assert rules["n_dropped"] == stats["n_in"] - stats["n_kept"]
    lineage = spark.read.parquet(f"{out}/_lineage")
    assert lineage.agg(F.sum("n_kept")).first()[0] == stats["n_kept"]


def test_resume_skips_committed_docs(spark, sf_small, tmp_path):
    out = str(tmp_path / "cur")
    docs = _docs(spark, sf_small)
    first = CurationPipeline(out).run(spark, docs)
    again = CurationPipeline(out).run(spark, docs)
    # every kept doc resumes; the previously DROPPED docs are re-judged
    # (they are not in the corpus) and dropped again -> nothing new lands
    assert again["n_resumed"] == first["n_kept"]
    assert again["n_kept"] == 0
    corpus = spark.read.parquet(f"{out}/corpus")
    ids = [r.doc_id for r in corpus.select("doc_id").collect()]
    assert len(ids) == len(set(ids)) == first["n_kept"]


def test_committed_hash_index_drops_recrawled_text(spark, sf_small,
                                                   tmp_path):
    out = str(tmp_path / "cur")
    docs = _docs(spark, sf_small)
    first = CurationPipeline(out).run(spark, docs)
    # second batch: same texts under NEW doc_ids (a re-crawl) — the
    # committed hash index must drop every one whose text is already in
    # the corpus, before the verdict even runs
    recrawl = docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"),
                          "text", "lang")
    stats = CurationPipeline(out).run(spark, recrawl)
    assert stats["n_resumed"] == 0                  # ids are new
    assert stats["n_committed_dup"] == first["n_kept"]
    # the texts that were DROPPED in run 1 are not in the corpus, so the
    # re-crawl judges them again and drops them again
    assert stats["n_kept"] == 0


def test_hash_index_self_heals_after_partial_commit(spark, sf_small,
                                                    tmp_path):
    """Crash between the corpus commit and the _hashes append: the next
    run must rebuild the missing index rows from the corpus itself, so a
    re-crawl of that run's texts is still dropped at ingest."""
    import shutil
    out = str(tmp_path / "cur")
    docs = _docs(spark, sf_small)
    first = CurationPipeline(out).run(spark, docs)
    # simulate the crash: the corpus run committed but its index append
    # was lost entirely
    shutil.rmtree(f"{out}/_hashes")
    recrawl = docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"),
                          "text", "lang")
    stats = CurationPipeline(out).run(spark, recrawl)
    assert stats["n_committed_dup"] == first["n_kept"]
    assert stats["n_kept"] == 0
    # and the rebuilt index now covers the first run
    hashes = spark.read.parquet(f"{out}/_hashes")
    assert hashes.where(F.col("run_id") == first["run_id"]).count() \
        == first["n_kept"]


def test_read_failure_is_not_first_run(spark, sf_small, tmp_path):
    """A corrupt committed table must abort the run, not silently skip
    the resume anti-join and duplicate the corpus."""
    import pytest
    out = str(tmp_path / "cur")
    docs = _docs(spark, sf_small)
    CurationPipeline(out).run(spark, docs)
    # corrupt the corpus: a parquet file whose footer is garbage
    part = tmp_path / "cur" / "corpus" / "lang=xx" / "bucket=0"
    part.mkdir(parents=True)
    (part / "part-corrupt.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception) as exc:
        CurationPipeline(out).run(spark, docs)
    assert "PATH_NOT_FOUND" not in str(exc.value)


def test_compaction_drops_cross_run_near_dup(spark, sf_small, tmp_path):
    """A NEAR-duplicate (not exact) of a previous run's kept doc passes
    the exact-only at-ingest index and the batch-local verdict, lands in
    the corpus — and the periodic compact() pass must then demote it
    while keeping the original (VERDICT r4 #5)."""
    out = str(tmp_path / "cur")
    docs = _docs(spark, sf_small)
    first = CurationPipeline(out).run(spark, docs)
    kept = spark.read.parquet(f"{out}/corpus")
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # batch 2: near-dup re-crawls (every 7th token dropped) of the kept
    # docs under new ids — NOT exact, so the md5 index can't stop them
    recrawl = (kept.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.array_join(F.filter(F.split("text", " "),
                              lambda x, i: ((i + 1) % 7) != 0),
                     " ").alias("text"),
        "lang"))
    second = CurationPipeline(out).run(spark, recrawl)
    assert second["n_committed_dup"] == 0          # ingest index is blind
    assert second["n_kept"] > 0                    # they land in the corpus
    stats = CurationPipeline(out).compact(spark)
    assert stats["n_before"] == first["n_kept"] + second["n_kept"]
    assert stats["n_dropped"] == second["n_kept"]
    after = spark.read.parquet(f"{out}/corpus")
    after_ids = {r.doc_id for r in after.select("doc_id").collect()}
    assert after_ids == kept_ids                   # originals kept, re-crawls gone
    # idempotent: a second pass drops nothing
    assert CurationPipeline(out).compact(spark)["n_dropped"] == 0
    comps = spark.read.parquet(f"{out}/_compactions")
    assert comps.count() == 2


def test_decontamination_tier_via_bench_df(spark, sf_small, tmp_path):
    out = str(tmp_path / "cur")
    docs = _docs(spark, sf_small)
    # benchmark set = one kept-quality doc's text; its exact twin in the
    # corpus must be dropped as contaminated
    base = CurationPipeline(str(tmp_path / "base")).run(spark, docs)
    kept_ids = [r.doc_id for r in
                spark.read.parquet(f"{tmp_path}/base/corpus")
                .select("doc_id").limit(1).collect()]
    bench = docs.where(F.col("doc_id") == kept_ids[0]).select("text")
    stats = CurationPipeline(out, bench_df=bench).run(spark, docs)
    assert stats["n_kept"] == base["n_kept"] - 1
    rules = spark.read.parquet(f"{out}/_rules").collect()[0]
    assert rules["n_contaminated"] >= 1


def test_rules_tally_the_judged_batch_on_a_later_run(spark, sf_small,
                                                     tmp_path):
    """Every run's ``_rules`` row tallies the batch that run judged — also
    on a second run into the same output, where the verdict's plan reads
    the corpus that the run appends to."""
    out = str(tmp_path / "cur")
    docs = _docs(spark, sf_small)
    runs = [CurationPipeline(out).run(spark, docs.where(F.col("doc_id") % 2 == k))
            for k in (0, 1)]
    rules = {r.run_id: r for r in spark.read.parquet(f"{out}/_rules").collect()}
    for stats in runs:
        row = rules[stats["run_id"]]
        judged = stats["n_in"] - stats["n_resumed"] - stats["n_committed_dup"]
        assert row.n_judged == judged > 0
        assert stats["n_kept"] + row.n_dropped == row.n_judged
