"""Results must not depend on physical partitioning.

Every query whose design involves salts, two-phase ranking, hash
membership, or iterative re-aggregation promises bit-identical output
regardless of how rows are sharded. Running with a different (odd,
non-divisible) shuffle-partition count would expose any accidental
dependence on partition boundaries — the class of bug that appears in
production as "results changed after the cluster resized" or
"stage retry produced different rows" (SPARK-23207 shape).
"""

from __future__ import annotations

import pytest

from dev_dot_cvp_metadata_ingestion_spark.plans import registry

from .conftest import SF_SMOKE, cvp_tiered

registry.load_all()

# the CVP queries whose plans shuffle or window: per-file/per-bundle
# windows and per-file/per-dimension aggregates (default tier)
CVP_SENSITIVE = [
    "cv_sequential_checks",          # per-file window chain (+ rebalance)
    "cv_sequential_checks_gated",    # per-file skip-flag OR in the window
    "cv_validation_tallies",         # per-file aggregates + sequential join
    "cv_error_histogram",            # per-(field, detail) error counts
    "cv_message_metrics",            # per-file tallies folded per dimension
]

# the partition-sensitive-by-construction corpus designs, plus one
# window and one iterative representative (slow tier)
SENSITIVE = [
    "ann_knn_join",          # salted two-phase top-k
    "documents_source_cap",  # salted two-phase per-group cap
    "dedup_keep_best",       # skew-safe argmin aggregate
    "documents_mixture_sample",  # salted-hash membership
    "dedup_minhash_pairs",   # LSH self-join + pinned exchange
    "dedup_minhash_banded",  # b×r banding variant
    "dedup_clusters",        # iterative min-label propagation
    "embedding_kmeans",      # iterative re-aggregation
    "dedup_semantic_keep",   # kmeans blocking + pairwise keeper votes
    "events_sessionize",     # ordered window logic
    "documents_lm_score",    # 3-shuffle train-then-score pipeline
    "corpus_source_overlap", # posting-list pair sweep
    "text_bigram_lm",        # count shuffle + per-context rank
    "documents_contamination_bloom",  # bitmap bit_or + semi-join probes
    "documents_budget_selected",   # histogram refinement + tie window
    "documents_paragraph_dedup",   # min_by firsts + merge join
    "documents_shuffled_shards",   # hash shards + per-shard positions
    "documents_importance_resampled",  # bucket model + clipped ratios
    "documents_training_shards",   # curation subtree + epoch shuffle
    "dedup_cluster_representatives",  # CC iterations + argmax
    "dedup_simhash_pairs",         # band self-join + bit votes
    "documents_perplexity_buckets",  # coarse-bucket better-counts
    "documents_repeated_substrings",  # dup groupBy + run windows
    "documents_substring_dup_stats",  # runs + per-doc aggregate
    "documents_substring_scrubbed",  # firsts min_by + coverage counts
    "corpus_heavy_hitters",  # partition-dependent MG candidates, exact recount
    "text_bm25_topk",        # salted two-phase per-query rank
    "text_bm25_topk_and",    # conjunction gate + salted rank
    "text_bm25_prf",         # two salted passes + expansion rank
    "text_rake_keywords",    # per-doc windows + vocab broadcast + top-k
    "text_rrf_fusion",       # fusion of two salted rankings
    "text_hybrid_rrf",       # lexical + residual-ANN salted fusion
    "dedup_phash_pairs",     # Arrow-batched hashes + band self-join
    "embedding_pq_codes",    # 8 iterative per-subspace re-aggregations
    "ann_pq_adc_topk",       # codebook train + salted rank
    "corpus_bigram_heavy_hitters",  # MG candidates over bigrams
    "ann_ivf_pq_topk",       # coarse probe + PQ chains + salted rank
    "ann_ivf_pq_residual_topk",  # residual requant + per-cell tables
    "text_phrase_search",    # start-position aggregate + salted rank
    "ann_mmr_rerank",        # salted candidate rank + greedy rounds
    "ann_mmr_rerank_ivf",    # coarse probe + salted rank + greedy rounds
    "dedup_graph_kcore",     # shrinking alive-set semi-join rounds
    "events_cusum_alarm",    # type-partitioned prefix windows
    "events_autocorrelation",  # row_number series index + lag self-join
    "events_hourly_forecast",  # trend moments + hod means + as-of pick
    "events_mad_anomaly",    # row_number median/MAD picks
    "events_seasonal_decomposition",  # centered frames + seasonal join
    "events_markov_stationary",  # checkpointed ppm rounds
    "text_collocations_pmi", # count shuffle + marginal joins + top-50
    "embedding_outliers",    # kmeans + per-cluster fence
    "embedding_silhouette",  # kmeans + two-nearest ranks
    "corpus_source_robust_stats",  # histogram-CDF cumulative windows
    "events_association_rules",    # distinct + per-user pair join
    "dedup_sorted_neighborhood",   # block-ranked window + rank equi-join
    "dedup_edit_distance_pairs",   # same SNM rank, levenshtein verify
    "dedup_link_prediction",       # wedge join + adjacency anti-join
    "text_textrank_keywords",      # ppm rank rounds over word graph
    "dedup_video_frame_pairs",     # Arrow frame fan-out + posting join
    "embedding_dbscan",            # degree gate + CC rounds + role joins
    "dedup_snm_multipass",         # two rank windows + union-distinct
    "text_spelling_correction",    # deletion-key join + per-typo argmax
    "dedup_tfidf_weighted_jaccard",  # df join + posting min-sum join
    "dedup_match_scores",          # two rank windows + feature joins
    "dedup_phash_clusters",        # Arrow hashes + band join + CC rounds
    "dedup_clustering_coefficients",  # wedge join + triangle semi-join
    "events_theil_sen_trend",      # slope pair join + median pick
    "ann_ivf_recall_report",       # kmeans + two salted rank joins
    "dedup_link_prediction_capped",  # degree-gated wedge join
    "dedup_hub_cap_report",        # degree-relation global aggregates
    "ann_pq_recall_report",        # exact-L2 rank vs residual PQ rank
    "text_spelling_correction_d2",  # double-deletion key join
    "dedup_image_in_video",        # asymmetric posting containment join
    "dedup_link_prediction_ra",    # degree-weighted wedge aggregate
    "dedup_video_frame_pairs_capped",  # cold-posting join + hot arrays
]


def _rows(spark, name):
    df = registry.QUERIES[name](spark, SF_SMOKE)
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", cvp_tiered(CVP_SENSITIVE + SENSITIVE))
def test_partition_count_invariance(spark, name):
    base = _rows(spark, name)
    assert base, name
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        alt = _rows(spark, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert base == alt, f"{name} output depends on shuffle partitioning"
