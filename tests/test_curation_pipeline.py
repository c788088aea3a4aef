"""CurationPipeline: resumable, lineage-tracked clean-corpus writes with
at-ingest incremental dedup against the committed hash index."""

import os

import pyspark.sql.functions as F
import pytest

from nmalign_spark.plans.curation import CurationPipeline
from nmalign_spark.plans.tables import read_committed

# Spark jobs of one later run() and one compact() on the fixture of
# test_job_budget_of_a_later_run_and_a_compaction, the most seen over
# repeated runs (local[4], AQE on): run() takes 45 or 46, compact() 35
# or 36.  The spread is AQE's build side for the near-dup pair join,
# picked by which shuffle finishes first: building from the pair counts
# is one broadcast job more than building from the per-doc shingle
# counts, which the next join broadcasts anyway.
RUN_JOBS, COMPACT_JOBS = 46, 36


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


def test_later_run_counts_the_batch_twice(spark, sf_small, tmp_path,
                                          monkeypatch):
    """A run into an output with committed ``_hashes`` makes no count pass:
    the resumed doc_ids are observed above the resume join, the todo and
    committed-duplicate counts come from one aggregate over the judged
    batch's checkpoint, and ``n_in`` is their sum.  An empty later batch
    reads zeros, also with a shuffled resume join."""
    out = str(tmp_path / "cur")
    docs = _docs(spark, sf_small)
    first = CurationPipeline(out).run(spark, docs.where(F.col("doc_id") % 2 == 0))
    cls, calls = type(docs), []
    count = cls.count

    def counting(self):
        calls.append(1)
        return count(self)

    monkeypatch.setattr(cls, "count", counting)
    stats = CurationPipeline(out).run(spark, docs)
    assert len(calls) == 0
    monkeypatch.setattr(cls, "count", count)
    assert stats["n_in"] == docs.count()
    assert stats["n_resumed"] == first["n_kept"]
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        empty = CurationPipeline(out).run(spark, docs.where(F.lit(False)))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert (empty["n_in"], empty["n_resumed"], empty["n_kept"]) == (0, 0, 0)


def _jobs(spark, group, fn):
    """The Spark jobs ``fn()`` runs, read from the status tracker under a
    job group of their own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_job_budget_of_a_later_run_and_a_compaction(spark, sf_small, tmp_path):
    """ROADMAP D7's budget: a later run() (hash drop, resume, verdict and
    four writes) and a compact() on this fixture run no more Spark jobs
    than they do when the judged batch, the verdict and the edge list are
    each computed once, into a checkpoint."""
    out = str(tmp_path / "cur")
    docs = _docs(spark, sf_small)
    CurationPipeline(out).run(spark, docs.where(F.col("doc_id") % 2 == 0))
    tag = tmp_path.name
    assert _jobs(spark, f"{tag}-run",
                 lambda: CurationPipeline(out).run(spark, docs)) <= RUN_JOBS
    assert _jobs(spark, f"{tag}-compact",
                 lambda: CurationPipeline(out).compact(spark)) <= COMPACT_JOBS


def test_no_cache_outlives_the_builders_or_a_run(spark, sf_small, tmp_path):
    """The dedup builders and the curation job reuse frames through local
    checkpoints only, so neither leaves an entry in the session's cache
    manager for anyone to release."""
    from nmalign_spark.operators import dedup

    spark.catalog.clearCache()
    caches = spark._jsparkSession.sharedState().cacheManager()
    for build in (dedup.ngram_jaccard_pairs, dedup.minhash_lsh_pairs,
                  dedup.duplicate_components):
        build(spark, sf_small).collect()
    assert caches.isEmpty()
    out = str(tmp_path / "cur")
    CurationPipeline(out).run(spark, _docs(spark, sf_small))
    CurationPipeline(out).compact(spark)
    assert caches.isEmpty()


class Killed(Exception):
    pass


@pytest.mark.parametrize("k", [1, 2, 3, 4])
def test_run_survives_a_kill_before_every_write(spark, sf_small, tmp_path, k):
    """A run killed before its k-th table append (corpus, _hashes,
    _lineage, _rules) leaves nothing visible: the re-run of the same batch
    commits each kept doc_id once, with its hash rows and its _rules row."""
    out = str(tmp_path / "cur")
    docs = _docs(spark, sf_small)
    first = CurationPipeline(out).run(spark, docs.where(F.col("doc_id") % 2 == 0))
    pipe = CurationPipeline(out)
    write, calls = pipe._write, []

    def dying(df, subdir, partition_cols=()):
        calls.append(subdir)
        if len(calls) == k:
            raise Killed(subdir)
        write(df, subdir, partition_cols)

    pipe._write = dying
    with pytest.raises(Killed):
        pipe.run(spark, docs)
    again = CurationPipeline(out).run(spark, docs)
    assert again["n_resumed"] == first["n_kept"]

    def committed(subdir):
        return read_committed(spark, f"{out}/{subdir}", f"{out}/_rules")

    per_run = {r.run_id: r.n for r in committed("corpus").groupBy("run_id")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_run == {first["run_id"]: first["n_kept"],
                       again["run_id"]: again["n_kept"]}
    ids = [r.doc_id for r in committed("corpus").select("doc_id").collect()]
    assert len(ids) == len(set(ids))
    hashed = {r.run_id: r.n for r in committed("_hashes").groupBy("run_id")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert {r: n for r, n in hashed.items() if n} == \
        {r: n for r, n in per_run.items() if n}
    rules = {r.run_id for r in committed("_rules").collect()}
    assert rules == {first["run_id"], again["run_id"]}


def test_batch_that_keeps_nothing(spark, sf_small, tmp_path):
    """A first run that drops every document commits an empty corpus
    (n_kept 0, read from the corpus write itself), and the next run is
    still a first run for the corpus, not a failure to read it."""
    out = str(tmp_path / "cur")
    docs = _docs(spark, sf_small)
    junk = docs.select("doc_id", F.lit("too short").alias("text"), "lang")
    stats = CurationPipeline(out).run(spark, junk)
    assert stats["n_kept"] == 0 and stats["n_resumed"] == 0
    rules = spark.read.parquet(f"{out}/_rules").collect()
    assert [(r.n_judged, r.n_dropped) for r in rules] == \
        [(stats["n_in"], stats["n_in"])]
    again = CurationPipeline(out).run(spark, docs)
    assert again["n_resumed"] == 0 and again["n_kept"] > 0


def test_compaction_crash_between_the_renames_rolls_forward(
        spark, sf_small, tmp_path, monkeypatch):
    """compact() killed between its two directory renames leaves no live
    corpus; the next read must finish the swap (the compacted copy is
    complete), not take the corpus for absent and start over."""
    out = str(tmp_path / "cur")
    docs = _docs(spark, sf_small)
    CurationPipeline(out).run(spark, docs)
    kept = spark.read.parquet(f"{out}/corpus")
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    recrawl = kept.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.array_join(F.filter(F.split("text", " "),
                              lambda x, i: ((i + 1) % 7) != 0),
                     " ").alias("text"),
        "lang")
    assert CurationPipeline(out).run(spark, recrawl)["n_kept"] > 0
    rename, calls = os.rename, []

    def dying(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise Killed(src)
        rename(src, dst)

    monkeypatch.setattr(os, "rename", dying)
    with pytest.raises(Killed):
        CurationPipeline(out).compact(spark)
    monkeypatch.setattr(os, "rename", rename)
    assert not os.path.exists(f"{out}/corpus")
    again = CurationPipeline(out).run(spark, docs)
    assert again["n_resumed"] == len(kept_ids) and again["n_kept"] == 0
    assert sorted(os.listdir(out)) == ["_hashes", "_lineage", "_rules", "corpus"]
    after = {r.doc_id for r in spark.read.parquet(f"{out}/corpus")
             .select("doc_id").collect()}
    assert after == kept_ids
    assert CurationPipeline(out).compact(spark)["n_dropped"] == 0
