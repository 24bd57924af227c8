"""Physical-plan shape gates: the scale properties the engine promises
(pushdown, pruning, broadcast, top-k pushdown, shuffle-free hot path)
must be visible in the executed plan, not just claimed (SURVEY §4)."""

import __spark_entry__  # noqa: F401 — populates the registry

from win64_local_ocr_tool_spark.operators.registry import QUERIES as REG

from win64_local_ocr_tool_spark.corpus import corpus_df
from win64_local_ocr_tool_spark.operators.extract import extract_all, extract_normal


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_push_into_scan(spark, sf_dir):
    plan = _plan(REG["f1_threshold_filter"](spark, sf_dir))
    scan = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "GreaterThan(value,75.0)" in scan
    assert "EqualTo(event_type,click)" in scan
    # column pruning: the scan must not read ts/props
    assert "ts" not in scan.split("ReadSchema")[1]
    assert "props" not in scan.split("ReadSchema")[1]


def test_dim_joins_are_broadcast(spark, sf_dir):
    plan = _plan(REG["j3_composite_equi_join"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # nation & region at minimum
    assert "SortMergeJoin" not in plan  # no fact-side re-shuffle


def test_global_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(REG["o8_global_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # never a full sort


def test_extraction_hot_path_has_no_shuffle(spark):
    """The flagship plan is scan -> project -> mapInPandas: zero wide
    dependencies, the property the N->4N criterion measures."""
    docs = corpus_df(spark, 50)
    plan = _plan(extract_normal(docs))
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_extraction_dual_path_shuffles_only_mega_rows(spark):
    """With the distributed skew path enabled, the normal branch stays
    shuffle-free; Exchanges appear only under the mega branch."""
    docs = corpus_df(spark, 50)
    plan = _plan(extract_all(docs, mega_bytes=65536))
    normal_branch = plan.split("Union")[0]
    # the first union branch (normal path) must stay narrow
    assert "Exchange" not in normal_branch


def test_mega_branch_prunes_on_ingest_metadata(spark, tmp_path):
    """When the stored table carries the n_bytes ingest-metadata column
    (sources.with_ingest_metadata), BOTH branch predicates must reach
    the parquet scan as pushed filters on that plain long column —
    the mega side's second scan then prunes by row-group statistics
    instead of re-reading every payload (VERDICT r1 item 5)."""
    from win64_local_ocr_tool_spark.sources import with_ingest_metadata

    path = str(tmp_path / "docs")
    with_ingest_metadata(corpus_df(spark, 60)).write.parquet(path)
    docs = spark.read.parquet(path)
    plan = _plan(extract_all(docs, mega_bytes=65536))
    scans = [l for l in plan.splitlines() if "PushedFilters" in l]
    # 4 scans: known-size normal/mega (pushed range filters) + the two
    # null-vintage guard branches (pushed IsNull — they prune to zero
    # row groups on an all-recorded table)
    assert len(scans) == 4, plan
    assert any("LessThan(n_bytes,65536)" in s for s in scans), scans
    assert any("GreaterThanOrEqual(n_bytes,65536)" in s for s in scans), scans
    assert sum("IsNull(n_bytes)" in s for s in scans) == 2, scans


def test_majority_mask_join_is_broadcast(spark, sf_dir):
    """f8's tiny majority table (one row per group) must broadcast back
    onto the fact side — no second shuffle of events."""
    plan = _plan(REG["f8_outlier_mask"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_graph_kernels_single_shuffle(spark, sf_dir):
    """O6/U4 applyInPandas kernels: exactly one Exchange (the groupBy
    key) — graphs never span groups, so no iterative joins appear."""
    for name in ("o6_mst_kruskal", "u4_dbscan_closure"):
        plan = _plan(REG[name](spark, sf_dir))
        assert plan.count("Exchange") == 1, name
        assert "FlatMapGroupsInPandas" in plan, name


def test_dedup_banding_is_single_pass_over_materialized_table(spark, sf_dir):
    """LSH banding must be ONE pass over the signature table (explode of
    an inline band array + localCheckpoint), never a union of per-band
    selects: a union recomputes the minhash aggregation once per band
    per join side (8x at 4 bands — no ReusedExchange across branches).
    Gate: the pair join's executed plan reads the materialized RDD, not
    the source parquet, and carries only the band-join exchange(s)."""
    plan = _plan(REG["dedup_lsh_pairs"](spark, sf_dir))
    assert "Scan parquet" not in plan
    assert plan.count("Exchange") <= 3


def test_dedup_jaccard_materializes_shingles_once(spark, sf_dir):
    """The shingle set feeds four consumers (df-cap, sizes, both
    self-join sides); it must be computed once (localCheckpoint), so the
    executed plan never re-reads the documents parquet."""
    plan = _plan(REG["dedup_ngram_jaccard"](spark, sf_dir))
    assert "Scan parquet" not in plan


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """Eval suites are tiny next to a training corpus: the benchmark
    gram set must broadcast so the corpus side streams through without
    a corpus-wide shuffle on the gram key."""
    plan = _plan(REG["decontaminate_ngram"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_final_corpus_kill_lists_broadcast(spark, sf_dir):
    """training_corpus_final: both kill lists (non-canonical dups,
    contaminated ids) broadcast into anti-joins against the one corpus
    scan — the contaminated ids unhinted, because the planner sizes
    them under the threshold, the dup drops through their hint. A
    SortMergeJoin here would mean the corpus side shuffles on doc_id."""
    plan = _plan(REG["training_corpus_final"](spark, sf_dir))
    # count anti-joins specifically: the decontaminate subtree already
    # contains an inner BroadcastHashJoin, so a bare BHJ count would
    # pass even if a kill-list join regressed to a shuffled variant
    n_anti_bhj = sum(
        1
        for line in plan.splitlines()
        if "BroadcastHashJoin" in line and "LeftAnti" in line
    )
    assert n_anti_bhj >= 2, plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_kill_list_anti_joins_need_no_broadcast(spark, sf_dir):
    """The near-dup and contamination drop sets grow with the corpus,
    so their anti-joins carry no broadcast hint (all but
    training_corpus_final's dup drops; see its docstring). With
    broadcasts off the planner shuffles them (SortMergeJoin) and they
    return the same rows as the broadcast plan."""
    from win64_local_ocr_tool_spark.streaming.neardup import near_dedup_kept

    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, source string"
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], "doc_id long, component long"
    )
    queries = {
        name: (lambda name=name: REG[name](spark, sf_dir))
        for name in (
            "dedup_canonical_docs", "dedup_canonical", "training_corpus_final",
        )
    }
    queries["near_dedup_kept"] = lambda: near_dedup_kept(docs, comps)
    want = {name: sorted(q().collect()) for name, q in queries.items()}
    assert [tuple(r) for r in want["near_dedup_kept"]] == [(1, "a"), (3, "c")]
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, q in queries.items():
            df = q()
            assert any(
                "SortMergeJoin" in l and "LeftAnti" in l
                for l in _plan(df).splitlines()
            ), name
            assert sorted(df.collect()) == want[name], name
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_q5_dimension_chain_broadcasts(spark, sf_dir):
    """Q5's region->nation->supplier->customer dimension chain must all
    broadcast; only the orders-lineitem spine may shuffle."""
    plan = _plan(REG["q5_local_supplier_volume"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_boilerplate_scrub_kill_list_broadcasts(spark, sf_dir):
    """The scrub's heavy-unit kill list must broadcast into the
    anti-join (boilerplate is the df tail — tiny next to the unit
    table), and the unit table must be materialized once
    (localCheckpoint), never re-derived from parquet per consumer."""
    plan = _plan(REG["boilerplate_scrub_chunks"](spark, sf_dir))
    assert any(
        "BroadcastHashJoin" in l and "LeftAnti" in l
        for l in plan.splitlines()
    ), plan
    assert "SortMergeJoin" not in plan


def test_null_n_bytes_rows_are_never_dropped(spark, tmp_path):
    """Mixed-vintage stored table: rows written before the metadata
    column existed read back with NULL n_bytes — they must route
    through the legacy length(html) predicate, not vanish (NULL fails
    both pushed comparisons)."""
    from pyspark.sql import functions as F

    from win64_local_ocr_tool_spark.sources import with_ingest_metadata

    old = corpus_df(spark, 30)  # no n_bytes column (old vintage)
    new = with_ingest_metadata(corpus_df(spark, 60)).filter(
        "url >= 'https://site0030'"
    )
    path = str(tmp_path / "mixed")
    old.write.parquet(path)
    new.write.mode("append").option("mergeSchema", "true").parquet(path)
    docs = spark.read.option("mergeSchema", "true").parquet(path)
    assert "n_bytes" in docs.columns
    n_null = docs.filter(F.col("n_bytes").isNull()).count()
    assert n_null == 30
    out = extract_all(docs, mega_bytes=65536)
    assert out.count() == 60  # every url extracted exactly once


def test_srp_routes_never_cross_join(spark, sf_dir):
    """The SRP answer routes (topk rerank, dedup verify) must get their
    pairs from the banded equi-join over the localCheckpoint-ed
    signature table — a CartesianProduct / BroadcastNestedLoopJoin in
    either plan means the route regressed to all-pairs. The embedding
    re-joins stay keyed equi-joins on vec ids."""
    for name in ("sim_topk_srp", "dedup_embedding_srp"):
        plan = _plan(REG[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        # candidate generation reads the materialized signature RDD,
        # not a second minhash-from-parquet recompute per side
        assert "Scan ExistingRDD" in plan, name
