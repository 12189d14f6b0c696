"""Physical-plan quality gates (SURVEY §4): the 100 TB design rules are
asserted on the actual plans, not just documented — filter pushdown
reaches the parquet scan, column pruning narrows ReadSchema, dimension
joins broadcast, and the sequential operator shuffles exactly once.
"""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from dev_dot_cvp_metadata_ingestion_spark.plans.pipeline import run_cv_pipeline
from dev_dot_cvp_metadata_ingestion_spark.sources.rules import (
    fixture_rules_path,
    load_rules_file,
)

from .conftest import SF_SMOKE
from .test_pipeline import _record

QUERIES = entrymod.queries()


def plan_of(name, spark) -> str:
    df = QUERIES[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of("pricing_summary", spark)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark):
    # pricing_summary reads 6 of lineitem's 11 columns — the scan schema
    # must not include the untouched join keys
    plan = plan_of("pricing_summary", spark)
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in scan_line
    assert "l_partkey" not in scan_line
    assert "l_quantity" in scan_line


def test_dimension_joins_broadcast(spark):
    plan = plan_of("revenue_by_nation", spark)
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region


def test_sequential_single_shuffle(spark, tmp_path):
    # one hash-partitioning exchange on file; bundle windows reuse the
    # clustering (file is a prefix of (file, grp)) — in the registry
    # query and in the pipeline's sequential table alike
    plan = plan_of("cv_sequential_checks", spark)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}"

    (tmp_path / "a.json").write_text(
        "".join(json.dumps(_record(i)) + "\n" for i in range(3))
    )
    ruleset = load_rules_file(fixture_rules_path())
    ruleset.sequential = True
    res = run_cv_pipeline(spark, str(tmp_path), ruleset)
    try:
        plan = res.sequential._jdf.queryExecution().executedPlan().toString()
    finally:
        res.unpersist()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 shuffle, pipeline has {n_exchanges}"


def test_validation_no_python_udf(spark):
    # the rule compiler must stay JVM-side: no Python evaluation nodes
    plan = plan_of("cv_validation_results", spark)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def _global_windows(df) -> list[str]:
    """Window nodes with an EMPTY partitionSpec in the optimized
    logical plan — inspected on the tree itself, not a formatted
    string (plan-format changes can't silently disable this)."""
    found: list[str] = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            found.append(node.simpleString(160))
        children = node.children().iterator()
        while children.hasNext():
            stack.append(children.next())
    return found


# whole-registry sweep (~2-3 min): slow tier
@pytest.mark.slow
def test_no_global_window_anywhere(spark):
    # No registered query may plan a partition-less Window — that moves
    # every row to a single task ("WindowExec: No Partition Defined").
    # Top-k is TakeOrderedAndProject instead (per-partition top-k).
    from pyspark.sql import Window

    # positive control: the walker must flag a deliberately planted
    # global window, or the loop below proves nothing
    planted = spark.range(10).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    assert _global_windows(planted), "walker failed to flag a global window"

    for name in sorted(QUERIES):
        df = QUERIES[name](spark, SF_SMOKE)
        bad = _global_windows(df)
        assert not bad, f"{name}: partition-less Window: {bad}"


def test_ann_topk_is_take_ordered(spark):
    for name in ("ann_bruteforce_topk", "ann_lsh_topk", "ann_ivf_kmeans_topk"):
        plan = plan_of(name, spark)
        assert "TakeOrderedAndProject" in plan, f"{name}: no TakeOrderedAndProject"
        assert "Window" not in plan, f"{name}: unexpected Window node"


def test_bucketed_join_no_shuffle(spark):
    from dev_dot_cvp_metadata_ingestion_spark.sources.catalog import (
        load_table,
        write_bucketed,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "b_lineitem", "l_orderkey", 8)
    write_bucketed(o, "b_orders", "o_orderkey", 8)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # buckets co-locate
        # correctness too, not just the plan
        assert j.count() == li.join(o, li.l_orderkey == o.o_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_documents_split_is_map_side(spark):
    # the split assignment must be a pure projection over the scan —
    # the only exchange allowed is the final presentation sort
    plan = plan_of("documents_split", spark)
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange rangepartitioning") <= 1


def test_classifier_score_is_map_side(spark):
    # model-inference plumbing must run at scan throughput: the hashed
    # linear scorer is a pure fold-projection — no hash exchange, no
    # generate/explode, no Python; only the presentation sort may range
    # partition
    plan = plan_of("documents_classifier_score", spark)
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange rangepartitioning") <= 1
    assert "Generate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_corpus_profile_single_aggregate_shuffle(spark):
    # one hash aggregate on the low-cardinality lang key; percentile
    # state must not force extra exchanges
    plan = plan_of("corpus_profile", spark)
    assert plan.count("Exchange hashpartitioning") == 1


def test_quality_filter_broadcasts_thresholds(spark):
    # the per-lang q25 aggregate is tiny and explicitly broadcast; the
    # corpus side must not shuffle for the join (one exchange total,
    # for the threshold aggregate itself)
    plan = plan_of("documents_quality_filter", spark)
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_quantize_is_pure_projection(spark):
    # normalization/quantization must be one map-side pass: no shuffle
    # except the presentation sort
    plan = plan_of("embedding_quantize", spark)
    assert "Exchange hashpartitioning" not in plan


def test_mixture_sample_broadcasts_rates(spark):
    # the per-source rate table rides a broadcast; the corpus side only
    # shuffles for the rate aggregate input, never for the join
    plan = plan_of("documents_mixture_sample", spark)
    assert "BroadcastHashJoin" in plan


def test_repetition_and_contamination_plans_stay_linear(spark):
    # chained hash aggregates / gram joins only — never a corpus-wide
    # window or a cartesian candidate explosion
    for name in ("documents_repetition_filter", "documents_contamination"):
        plan = plan_of(name, spark)
        assert "Window" not in plan, name
        assert "Cartesian" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_funnel_single_shuffle(spark):
    # the windowed funnel must shuffle events exactly once on user_id;
    # the final aggregate reuses the window partitioning
    plan = plan_of("events_funnel", spark)
    assert plan.count("Exchange hashpartitioning") == 1


def test_curated_pipeline_single_scan_no_window(spark):
    # the composed curation pipeline must keep every stage's scale
    # shape: no window anywhere, threshold/rate tables broadcast
    plan = plan_of("documents_curated", spark)
    assert "Window" not in plan
    assert "Cartesian" not in plan
    assert plan.count("BroadcastExchange") >= 2  # q25 + rates (+ m)


def test_keep_best_has_no_window(spark):
    # keeper selection must be the skew-safe argmin aggregate (map-side
    # combine collapses hot fingerprints; the join is AQE-splittable),
    # not a window over fingerprint
    plan = plan_of("dedup_keep_best", spark)
    assert "Window" not in plan
    assert "min_by" in plan or "MinBy" in plan


def test_chunking_is_map_side_generate(spark):
    # sliding-window chunking must be explode-over-scan: no shuffle
    # except the presentation sort
    plan = plan_of("documents_chunked", spark)
    assert "Generate explode" in plan
    assert "Exchange hashpartitioning" not in plan


def test_topk_k_guard_is_a_real_exception(spark):
    """VERDICT r4 item 6: the k<=10000 single-task-funnel guard must be
    a ValueError, not a bare assert (which ``python -O`` strips)."""
    import pytest as _pytest

    from dev_dot_cvp_metadata_ingestion_spark.operators.similarity import (
        topk_ranked,
    )

    df = spark.range(5).select(
        F.col("id").alias("doc_id"), F.col("id").cast("double").alias("cos")
    )
    with _pytest.raises(ValueError, match="10000"):
        topk_ranked(df, cos_col="cos", id_col="doc_id", k=10_001)


def test_fingerprints_hash_derived_once(spark):
    """The winnowing pipeline must compute the gram-hash array exactly
    once per row. Two past regressions pinned here: (1) a fused Column
    expression re-derived tokenize+md5 per sliding window; (2) plain
    explode() let InferFiltersFromGenerate + predicate pushdown inline
    the whole fingerprint tree into a Filter below the staging
    projects. Both manifest as >1 md5 occurrence in the physical plan
    (87 s / 42 s vs 1.2 s at sf0.1)."""
    from dev_dot_cvp_metadata_ingestion_spark.plans import registry

    registry.load_all()
    df = registry.QUERIES["text_fingerprints"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("md5") == 1, (
        f"gram hashing evaluated {plan.lower().count('md5')} times"
    )


# Queries whose output is corpus-sized (one row per document / vector /
# event / file / pair). A global orderBy on such an output is a pure
# presentational range-shuffle of the entire corpus — the oracle compare
# is order-insensitive by contract (check_oracle.py sorts rows), so at
# 100 TB that sort is wasted wall-clock. VERDICT r6 item 1.
PER_ROW_OUTPUT = [
    "text_stats", "text_token_counts", "text_lang_id", "documents_split",
    "documents_quality_filter", "documents_chunked", "documents_packed",
    "documents_curated", "text_tfidf_top_terms", "documents_mixture_sample",
    "documents_repetition_filter", "documents_contamination",
    "documents_contamination_fuzzy", "documents_contamination_bloom",
    "dedup_ngram_pairs_capped", "dedup_clusters_contracted",
    "dedup_containment_pairs_capped", "embedding_label_propagation",
    "embedding_contamination_semantic", "embedding_label_propagation_ivf",
    "embedding_contamination_semantic_ivf", "ann_knn_join",
    "documents_training_examples", "documents_training_shards",
    "documents_training_shards_packed", "documents_gopher_rules",
    "documents_paragraph_dedup", "documents_shuffled_shards",
    "documents_importance_resampled", "documents_budget_selected",
    "dedup_cluster_representatives", "dedup_simhash_pairs",
    "dedup_exact", "dedup_minhash_pairs",
    "dedup_clusters", "dedup_simhash", "dedup_ngram_pairs",
    "dedup_containment_pairs", "dedup_keep_best", "embedding_quantize",
    "events_funnel", "events_sessionize", "events_range_join",
    "dedup_embedding_pairs", "multimodal_features", "multimodal_frames",
    "multimodal_resized", "text_fingerprints", "documents_source_cap",
    "text_fingerprint_overlap", "embedding_zscore", "documents_rarity_score",
    "events_sessionize_native", "dedup_minhash_banded", "dedup_semantic_keep",
    "documents_lm_score", "text_bigram_lm", "documents_classifier_score",
    "embedding_kmeans", "cv_validation_results", "cv_validation_tallies",
    "cv_error_histogram", "file_metadata_docs", "file_metrics_counters",
    "url_decoded_keys",
    "cv_message_metrics", "csv_rule_validation", "cv_sequential_checks",
    "documents_perplexity_buckets", "documents_repeated_substrings",
    "documents_substring_dup_stats", "documents_substring_scrubbed",
    "dedup_pagerank_centrality", "embedding_pq_codes",
    "dedup_graph_kcore", "events_cusum_alarm", "events_seasonal_anomaly",
    "events_mad_anomaly", "embedding_outliers",
    "events_seasonal_decomposition", "events_user_outliers",
    "ann_range_search", "dedup_phash_pairs",
]


def _is_global_sort(node) -> bool:
    # logical Sort's simpleString is `Sort [...], true` when global
    return node.nodeName() == "Sort" and node.simpleString(200).rstrip(
    ).endswith("true")


# whole-registry sweep (~2-3 min): slow tier
@pytest.mark.slow
def test_no_topmost_global_sort_on_per_row_outputs(spark):
    # positive control: the detector must flag a planted global sort
    planted = spark.range(10).orderBy("id")
    assert _is_global_sort(planted._jdf.queryExecution().optimizedPlan())

    missing = [n for n in PER_ROW_OUTPUT if n not in QUERIES]
    assert not missing, f"stale names in PER_ROW_OUTPUT: {missing}"
    for name in PER_ROW_OUTPUT:
        df = QUERIES[name](spark, SF_SMOKE)
        top = df._jdf.queryExecution().optimizedPlan()
        assert not _is_global_sort(top), (
            f"{name}: topmost global Sort on a corpus-sized output — "
            "presentational, drop it"
        )


def test_ivf_twins_broadcast_neither_knn_side(spark):
    """VERDICT r7 item 1: the registered IVF-composed twins must get
    their k-NN candidates through SHUFFLE joins on the learned cell
    key — neither the corpus nor the query split rides a broadcast.
    With auto-broadcast disabled, only explicit hints broadcast, so
    the plan shape is unambiguous: the broadcast knn_join control
    plans ZERO shuffle joins (its hint carries the whole query split),
    while the IVF form's only broadcasts are the k-row centroid
    relation and its corpus/probe joins are SortMergeJoin."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name in (
            "embedding_label_propagation_ivf",
            "embedding_contamination_semantic_ivf",
        ):
            plan = plan_of(name, spark)
            assert plan.count("SortMergeJoin") >= 2, (
                f"{name}: knn candidate join is not a shuffle join"
            )
        # A/B control: the broadcast form has no shuffle join at all —
        # its F.broadcast(q) hint IS the scale-killer the IVF twin
        # removes (if this ever grows an SMJ, the contrast is void)
        control = plan_of("embedding_contamination_semantic", spark)
        assert "SortMergeJoin" not in control
        assert "BroadcastNestedLoopJoin" in control
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_mmr_ivf_candidates_never_crossjoin_corpus_with_queries(spark):
    """r10 VERDICT item 7: mmr_rerank_ivf's candidate generation must
    reach the corpus through equi-joins on the learned cell key — the
    corpus never crossJoins the query relation. With auto-broadcast
    off, the IVF candidate plan's corpus joins are SortMergeJoin
    (+ hinted config-scale broadcasts for probes/query vectors), while
    the brute-force control's candidate stage IS the corpus × queries
    BroadcastNestedLoopJoin the IVF form removes."""
    import pyspark.sql.functions as F

    from dev_dot_cvp_metadata_ingestion_spark.operators.similarity import (
        mmr_rerank_ivf,
    )
    from dev_dot_cvp_metadata_ingestion_spark.sources.catalog import (
        load_table,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") % 97 == 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cand = mmr_rerank_ivf(e, q, k=3, n_cand=10, return_candidates=True)
        plan = cand._jdf.queryExecution().executedPlan().toString()
        assert plan.count("SortMergeJoin") >= 1, (
            "corpus cell-key join is not a shuffle join:\n" + plan[:2000]
        )
        # control: the brute-force candidate stage (the mmr_rerank
        # front half) carries the corpus × queries BNLJ the IVF form
        # exists to remove
        scale = 100_000
        qv = q.select(
            F.col("vec_id").alias("q_id"),
            F.transform(
                F.col("embedding"),
                lambda v: F.floor(v.cast("double") * scale).cast("long"),
            ).alias("qf"),
        )
        corpus = e.select(
            F.col("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda v: F.floor(v.cast("double") * scale).cast("long"),
            ).alias("xf"),
        )
        control = (
            corpus.crossJoin(F.broadcast(qv))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" in control
        assert "SortMergeJoin" not in control
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_knn_join_no_topmost_global_sort(spark):
    """VERDICT r7 item 5: _topk_per_query returns UNORDERED output —
    the terminal global sort moved to presentation call sites, so the
    operator composes mid-plan without Catalyst having to eliminate
    it. (ann_knn_join + the ivf twins are also in PER_ROW_OUTPUT.)"""
    from dev_dot_cvp_metadata_ingestion_spark.operators.similarity import (
        knn_join,
    )
    from dev_dot_cvp_metadata_ingestion_spark.sources.catalog import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    df = knn_join(e, e.filter(F.col("vec_id") < 3), k=3)
    assert not _is_global_sort(df._jdf.queryExecution().optimizedPlan())


def test_minhash_pin_reuses_exchange(spark):
    """dedup_minhash_pairs pins its (doc_id, hash-array) frame behind a
    repartition exchange consumed by 4 branches; the EXECUTED adaptive
    plan must show the other 3 as ReusedExchange (the md5-over-shingles
    lineage computes once). Note: reuse is only visible on the final
    adaptive plan after executing THIS DataFrame — a pre-execution
    plan string shows none."""
    from dev_dot_cvp_metadata_ingestion_spark.plans import registry

    registry.load_all()
    df = registry.QUERIES["dedup_minhash_pairs"](spark, SF_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") >= 3, plan.count("ReusedExchange")


def test_repeated_substrings_never_broadcasts_the_dup_set(spark):
    """The duplicate-shingle relation is corpus-sized by construction
    (every shingle occurring twice anywhere); the mark join must be a
    shuffle merge join — a broadcast here is the local planner's
    size-estimate trap that dies at 100 TB (same pin as paragraph
    dedup's firsts join). The run-grouping window must be partitioned
    (by doc), never global."""
    plan = plan_of("documents_repeated_substrings", spark)
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_perplexity_buckets_stat_relation_broadcasts(spark):
    """The per-(lang, score) 'strictly better' stat relation is
    model-scale (bounded by distinct scores) and must BROADCAST onto
    the corpus; the corpus itself must never sort-merge. The better
    counts come from coarse-bucket windows, never a per-lang unbounded
    window (a language is corpus-sized)."""
    plan = plan_of("documents_perplexity_buckets", spark)
    assert "BroadcastHashJoin" in plan
    import re

    # every window spec in the plan must carry a partition key list
    # that includes the coarse bucket (cb) — no per-lang-only windows
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "cb" in spec, f"window not coarse-bucketed: {spec}"


def test_window_anomaly_moments_broadcast_no_window_fn(spark):
    # the per-type moment relation joins back by BROADCAST (it is
    # |event_types| rows) and the detector uses no window function at
    # all — the whole point of the moments-join design
    plan = plan_of("events_window_anomaly", spark)
    assert "BroadcastHashJoin" in plan
    assert "WindowExec" not in plan and "RunningWindowFunction" not in plan


def test_bm25_dictionary_sides_broadcast(spark):
    # query dictionary (semi-join), document frequencies, corpus
    # totals, and the query relation are all config-scale broadcasts;
    # only the tf-dl join may shuffle corpus-sized relations
    plan = plan_of("text_bm25_topk", spark)
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("BroadcastNestedLoopJoin") >= 1  # single-row corp


def test_heavy_hitters_candidates_broadcast(spark):
    # the recount is a BROADCAST semi-join against the candidate union
    # (partitions x capacity rows) — the vocabulary itself must never
    # be the join's shuffled side; the only Python node is the Arrow
    # map-side sketch
    plan = plan_of("corpus_heavy_hitters", spark)
    assert "MapInPandas" in plan
    semi = [l for l in plan.splitlines() if "LeftSemi" in l]
    assert semi and all("Broadcast" in l for l in semi)


def test_adc_tables_broadcast_corpus_never_shuffled_for_scoring(spark):
    # the distance tables (|queries| x k x m rows, long-form) join the
    # code relation through ONE broadcast lookup; the only corpus-sized
    # exchange is the final (q_id, vec_id) distance sum + the salted
    # rank — no SortMergeJoin anywhere in the serving path
    plan = plan_of("ann_pq_adc_topk", spark)
    lookup = [
        l
        for l in plan.splitlines()
        if "BroadcastHashJoin" in l and "subspace" in l and "cluster" in l
    ]
    assert lookup, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_rolling_anomaly_windows_are_type_partitioned(spark):
    # the rolling form may use window functions ONLY over the bounded
    # (event_type)-partitioned count relation — the global-window
    # walker already proves no empty partitionSpec; this pins that the
    # corpus-sized pass stays a single aggregate exchange
    plan = plan_of("events_window_anomaly_rolling", spark)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, f"expected <=2 shuffles, got {n_exchanges}"


def test_residual_ivf_pq_serving_plan(spark):
    # residual IVF-PQ: distance tables and probes broadcast; the ONLY
    # sort-merge join allowed is the corpus-sized codes-cellmap join
    # on vec_id (both sides are corpus-derived, broadcast would be
    # wrong) — the residual subtraction itself must add zero
    # sort-merge joins (it is a broadcast join against the
    # n_cells-row centroid relation)
    plan = plan_of("ann_ivf_pq_residual_topk", spark)
    lookup = [
        l
        for l in plan.splitlines()
        if "BroadcastHashJoin" in l and "subspace" in l and "cluster" in l
    ]
    assert lookup, plan[:2000]
    assert plan.count("SortMergeJoin") <= 1
