"""Physical-plan shape pins for the scale-critical invariants (PLANS.md).

Correctness gates prove WHAT the operators compute; these tests pin HOW the
plans execute — the properties that decide whether a query survives a 100x
scale-up.  Each assertion encodes one documented invariant, so an innocent
refactor that silently reintroduces (say) an unbounded collect_list or a
cartesian product fails CI here instead of OOMing a cluster later.

Plan strings come from the ANALYZED/executed plan of the exact production
queries (no test-only rewrites).
"""

from nmalign_spark.operators import dedup, similarity


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_shingle_groups_caps_state_before_collect(spark, sf_small):
    """The cap+1 row_number cut must run BELOW the posting-list
    collect_list, so no aggregation key ever holds more than
    STOP_SHINGLE_MAX+1 elements of state (the r3 scale-killer, VERDICT r3
    item 2; the r5 one-exchange shape — a streaming, disk-spillable
    window replaces the r4 df-count + LEFT-SEMI double pass)."""
    groups = dedup._shingle_groups(dedup.augmented_docs(spark, sf_small))
    plan = _plan(groups)
    assert "collect_list" in plan
    # the row_number window (and its rn <= cap+1 filter) must sit BELOW
    # the collect aggregate in the tree (appear later in the printout)
    collect_pos = plan.index("collect_list")
    win_pos = plan.index("row_number")
    assert win_pos > collect_pos, (
        "row_number df-cap cut is not below the collect_list aggregate; "
        "posting-list state is unbounded again")
    assert f"rn#" in plan and f"<= {dedup.STOP_SHINGLE_MAX + 1}" in plan
    # ONE exchange total: the groupBy must reuse the window's
    # hashpartitioning instead of re-shuffling
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, (
        f"expected a single shuffle in the groups plan, found "
        f"{n_exchanges}")


def test_shingle_groups_exchange_is_reused_across_branches(spark, sf_small):
    """The capped groups feed several branches of one plan (the pair stream
    and the per-doc counts; MinHash also its signatures) and are neither
    cached nor checkpointed: the executed plan shuffles the shingles for
    the window once, and the other branches reuse that exchange."""
    for build in (dedup.ngram_jaccard_pairs, dedup.minhash_lsh_pairs):
        df = build(spark, sf_small)
        df.collect()
        reused = [ln for ln in _plan(df).splitlines()
                  if "ReusedExchange" in ln and "hashpartitioning(shingle" in ln]
        assert reused, build.__name__


def test_minhash_has_no_cartesian_product(spark, sf_small):
    plan = _plan(dedup.minhash_lsh_pairs(spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_grouping_shingle_paths_build_no_window_strings(spark, sf_small):
    """r5 invariant: consumers that use shingles only as grouping keys
    (jaccard / span fraction / components) fold per-token xxhash64 longs
    (relational.sliding_ngram_keys) — no concat_ws window strings
    anywhere in the plan, which were the allocation pressure
    BENCH_CURATION_ANALYSIS.md localized in the shingle stages."""
    # (duplicate_components shares jaccard's groups but its executed plan
    # is cut at its edge-list and label checkpoints, so the scan-side
    # invariant is pinned on the two scan-visible consumers)
    for q in (dedup.ngram_jaccard_pairs, dedup.span_dup_fraction):
        plan = _plan(q(spark, sf_small))
        assert "concat_ws" not in plan, q.__name__
        assert "xxhash64" in plan, q.__name__


def test_minhash_never_shuffles_shingle_text(spark, sf_small):
    """r5 invariant (VERDICT r4 #1): the minhash path reduces every shingle
    to integers (xxhash64 key + md5-half h1/h2) in the SCAN stage, so no
    Exchange moves shingle strings — a `shingle` partition key in any
    exchange must be a Long attribute (`#nnnL`), never the raw string."""
    import re
    plan = _plan(dedup.minhash_lsh_pairs(spark, sf_small))
    for part in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        for attr in re.findall(r"shingle#\d+(L?)", part):
            assert attr == "L", f"string shingle key in exchange: {part}"
    # and the affine mixes replaced the md5-rotation string minima: the
    # per-doc signature aggregate takes min() of longs, not strings
    assert "concat(substr(" not in plan


def test_lsh_topk_probe_join_is_hash_join(spark, sf_small):
    """The 37-mask probe fan-out must stay a broadcast of the tiny mask
    table; the probe->bucket candidate join must be a hash equi-join
    (AQE-splittable), never a nested-loop over the corpus."""
    plan = _plan(similarity.lsh_bucketed_topk(spark, sf_small))
    # nested-loops allowed ONLY for the constant broadcast ranges (the
    # 37-row mask table + one 8-row plane range per _sign_buckets call);
    # each must be a BuildRight broadcast of the tiny side
    assert "CartesianProduct" not in plan
    bnlj = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(bnlj) <= 3
    assert all("BuildRight" in ln for ln in bnlj)
    # the candidate join must be a hash equi-join on the probed key
    assert any("BroadcastHashJoin" in ln and "probe" in ln and "cbucket" in ln
               for ln in plan.splitlines())


def test_decontaminate_bench_side_broadcasts(spark, sf_small):
    """The benchmark gram set is eval-suite-sized: the contamination join
    must broadcast it (corpus side never shuffles its grams)."""
    from nmalign_spark.operators.textstats import decontaminate_flags
    plan = _plan(decontaminate_flags(spark, sf_small))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_curation_verdict_decon_join_broadcasts(spark, sf_small):
    plan = _plan(dedup.curation_verdict(spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_domain_cap_window_only_on_hot_branch(spark, sf_small):
    """Skew routing (PLANS.md 5h): the under-cap long-tail branch must
    reach the Union with NO Sort/Window; only the over-cap slice may be
    exchanged and window-sorted, so windowed state is bounded by the hot
    hosts' rows, not the corpus."""
    from nmalign_spark.operators.textstats import domain_cap

    plan = _plan(domain_cap(spark, sf_small))
    assert "Union" in plan
    union_body = plan[plan.index("Union"):]
    # exactly one Window in the whole union — the hot branch's
    assert union_body.count("Window") == 1
    # the Window sits below the over-cap filter, so its input is the
    # hot slice, not the corpus
    assert plan.index("Window") > plan.index("Union")
    assert "CartesianProduct" not in plan


def test_temperature_mix_corpus_never_shuffles(spark, sf_small):
    """The corpus scan must reach its aggregation through broadcast joins
    only — every Exchange in the plan belongs to the tiny language-count
    aggregations, not the documents scan (PLANS.md 5h)."""
    from nmalign_spark.operators.textstats import temperature_mix

    df = temperature_mix(spark, sf_small)
    plan = _plan(df)
    # the rates side reaches the corpus via broadcast
    assert "BroadcastHashJoin" in plan
    # no SortMergeJoin / shuffled hash join anywhere: the only Exchanges
    # are hash aggregations over `lang` (cardinality ~5) and the final
    # group, never a join repartition of the corpus
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def _repartition_counts(plan: str) -> list[int]:
    """Partition counts of every ``repartition(n, ...)`` exchange."""
    import re
    return [int(m.group(1)) for m in re.finditer(
        r"Exchange \w+\((?:[^()]|\([^()]*\))*?(\d+)\), REPARTITION_BY_NUM",
        plan)]


def test_cogrouped_align_runs_the_streaming_segments_kernel(spark):
    """``align_cogrouped`` is the side-tagged union fed to
    ``align_segments``: no grouped-map cogroup node, and its one kernel
    shuffle is a url repartition into one partition per core."""
    from nmalign_spark.operators.align import align_cogrouped

    ddl = "url string, seq_no int, seg_text string"
    cand = spark.createDataFrame([("u", 0, "alpha beta")], ddl)
    refs = spark.createDataFrame([("u", 0, "alpha beta")], ddl)
    df = align_cogrouped(cand, refs)
    df.collect()
    plan = _plan(df)
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "MapInPandas" in plan
    n = spark.sparkContext.defaultParallelism
    assert "hashpartitioning(url#" in plan
    assert set(_repartition_counts(plan)) == {n}


def test_pipeline_kernel_exchanges_one_partition_per_core(spark, sf_small,
                                                          tmp_path):
    """The extraction job's aligned output: the giant branch keeps its
    input layout (no 64-way round-robin in front of the salted path), and
    every pinned exchange — the salted scorer's (page_uid, chunk_id)
    shuffle and the synthetic source's fan-out — has one partition per
    core."""
    import pytest

    from nmalign_spark.plans.pipeline import ExtractionPipeline
    from nmalign_spark.sources.pages import pages_from_documents

    class Captured(Exception):
        pass

    def capture(df, subdir, partition_cols=()):
        raise Captured(df)

    pipe = ExtractionPipeline(str(tmp_path / "out"), giant_chars=400)
    pipe._write = capture
    with pytest.raises(Captured) as got:
        pipe.run(spark, pages_from_documents(spark, sf_small))
    plan = _plan(got.value.args[0])
    n = spark.sparkContext.defaultParallelism
    assert "RoundRobinPartitioning(64)" not in plan
    assert "hashpartitioning(page_uid#" in plan
    counts = _repartition_counts(plan)
    assert counts and set(counts) == {n}


def test_workspace_merge_is_one_python_pass_per_page(spark, tmp_path):
    """``align_workspaces``' merged frame runs ONE Python node, the per-page
    parse/align/merge kernel: no grouped-map node, no second METS parse
    (the plan reads the METS checkpoint), and its one pinned exchange, the
    url repartition, has one partition per core."""
    from nmalign_spark.plans.workspace import align_workspaces
    from nmalign_spark.sources.mets import MIMETYPE_PAGE, make_mets_xml
    from nmalign_spark.sources.pagexml import make_page_xml

    for name in ("ws1", "ws2"):
        ws = tmp_path / name
        (ws / "OCR").mkdir(parents=True)
        (ws / "GT").mkdir()
        (ws / "OCR" / "PA.xml").write_text(make_page_xml(["alpha beta"]))
        (ws / "GT" / "PA.txt").write_text("alpha beta\n")
        (ws / "mets.xml").write_text(make_mets_xml([("PA", [
            ("OCR", "O_PA", MIMETYPE_PAGE, "OCR/PA.xml"),
            ("GT", "G_PA", "text/plain", "GT/PA.txt")])]))
    merged, _ = align_workspaces(spark, str(tmp_path), "OCR", "GT")
    assert len(merged.collect()) == 2
    plan = _plan(merged).split("== Initial Plan ==")[0]
    assert plan.count("MapInPandas") == 1
    assert "FlatMapGroupsInPandas" not in plan
    assert "EvalPython" not in plan
    assert "ExistingRDD" in plan
    n = spark.sparkContext.defaultParallelism
    assert set(_repartition_counts(plan)) == {n}
