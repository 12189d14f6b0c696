"""Every query must survive EMPTY input tables — no driver-side
IndexError on a seed collect, no division blowing up on an empty
percentile, no iterative loop assuming a first row. A full sweep of
all 88 registered queries over empty mirrors passed on 2026-08-14
(round 7); this test pins the structurally riskiest subset — the
queries with driver-side collects, iterative loops, threshold
aggregates feeding joins, or percentile gates — so the property can't
silently regress without a 5-minute full sweep in the suite. Every CVP
query runs in the default tier; the corpus subset is marked slow."""

from __future__ import annotations

import os

import pytest

from dev_dot_cvp_metadata_ingestion_spark.plans import registry

from .conftest import CVP_QUERIES, SF_SMOKE, cvp_tiered

registry.load_all()

AT_RISK = [
    "embedding_kmeans",            # iterative; seeds from corpus
    "ann_ivf_kmeans_topk",         # learned quantizer + probe
    "embedding_label_propagation", # knn join + vote argmax
    "dedup_clusters",              # iterative label propagation
    "dedup_semantic_keep",         # kmeans blocking
    "corpus_profile",              # percentiles per group
    "documents_quality_filter",    # quartile threshold join
    "documents_curated",           # threshold + min() rate table
    "documents_curation_funnel",   # 4 counts over the above
    "documents_length_histogram",  # percentile-derived bucket bounds
    "documents_mixture_sample",    # min(tok) rate table
    "documents_contamination_bloom",  # bitmap build on empty set
    "dedup_ngram_pairs_capped",    # df aggregate + hot arrays on empty
    "dedup_containment_pairs_capped",
    "dedup_clusters_contracted",   # contraction + CC on empty graph
    "dedup_lsh_quality_report",    # global counts -> one all-zero row
    "dedup_clusters_twostar",      # edge-fingerprint loop on empty graph
    "documents_boilerplate_removed",  # hot-set broadcast on empty corpus
    "documents_paragraph_dedup",   # firsts aggregate + merge join on empty
    "documents_shuffled_shards",   # window over zero shards
    "documents_importance_resampled",  # 0-bucket model, totals row
    "documents_training_shards",   # full curation subtree on empty
    "documents_budget_selected",   # zero-row histogram, null budget
    "dedup_cluster_representatives",  # CC fixpoint + argmax on empty
    "dedup_simhash_pairs",         # band self-join on empty
    "documents_training_shards_packed",  # packed windows on empty
    "documents_gopher_rules",      # pure projection on empty
    "documents_perplexity_buckets",  # per-lang histogram on empty
    "documents_repeated_substrings",  # dup set + run window on empty
    "documents_substring_dup_stats",  # zero-row runs, left-join zeros
    "documents_substring_scrubbed",  # firsts/cover joins on empty
    "corpus_source_drift",         # single-row totals crossJoin on empty
    "dedup_pagerank_centrality",   # iterative rank loop on empty graph
    "dedup_graph_triangles",       # global counts -> one all-zero row
    "embedding_pca_projected",     # driver-side moments collect on empty
    "events_window_anomaly",       # moments join + nullif on empty
    "text_bm25_topk",              # avgdl div on n_docs=0, empty tf
    "corpus_heavy_hitters",        # MG over empty partitions, n_total=0
    "events_decayed_counts",       # null as-of point on empty stream
    "text_bm25_topk_and",          # matched==n_terms join on empty
    "text_bm25_prf",               # two-pass expansion on empty corpus
    "text_rake_keywords",          # phrase runs over an empty corpus
    "text_rrf_fusion",             # union of two empty rankings
    "text_hybrid_rrf",             # lexical+vector fusion on empty corpus
    "dedup_phash_pairs",           # Arrow hash map + band join on empty
    "embedding_pq_codes",          # 8 kmeans seeds from empty corpus
    "ann_pq_adc_topk",             # codebooks + tables on empty corpus
    "corpus_bigram_heavy_hitters", # MG + recount on empty bigram stream
    "events_window_anomaly_rolling",  # frames over zero windows
    "ann_ivf_pq_topk",             # coarse + 8 PQ chains on empty corpus
    "ann_ivf_pq_residual_topk",    # residual projection on empty corpus
    "text_phrase_search",          # positional postings on empty corpus
    "ann_mmr_rerank",              # greedy rounds over empty candidates
    "ann_mmr_rerank_ivf",          # coarse chain + greedy on empty corpus
    "dedup_graph_kcore",           # peel rounds on empty graph
    "events_cusum_alarm",          # prefix windows over zero windows
    "events_seasonal_anomaly",     # seasonal moments over zero windows
    "events_mad_anomaly",          # median picks over zero windows
    "events_hourly_trend",         # OLS moments over zero windows
    "events_autocorrelation",      # lag pairs over zero windows
    "events_hourly_forecast",      # trend/seasonal joins over zero windows
    "text_collocations_pmi",       # marginals/scalar B on empty corpus
    "embedding_outliers",          # kmeans + fence on empty embeddings
    "embedding_silhouette",        # two-nearest ranks on empty embeddings
    "events_seasonal_decomposition",  # frames + seasonal join on empty
    "events_markov_stationary",    # ppm rounds over an empty chain
    "corpus_source_ab_test",       # pair join over zero sources
    "events_user_outliers",        # global moment row on empty events
    "events_association_rules",    # pair join + scalar N on empty
    "corpus_source_robust_stats",  # histogram CDF on empty corpus
    "ann_range_search",            # broadcast of zero queries
    "dedup_sorted_neighborhood",   # rank window over zero docs
    "dedup_edit_distance_pairs",   # SNM candidates over zero docs
    "dedup_link_prediction",       # wedge join over an empty graph
    "text_textrank_keywords",      # rank rounds over an empty vocabulary
    "dedup_video_frame_pairs",     # frame fan-out over zero media rows
    "embedding_dbscan",            # CC fixpoint over an empty eps-graph
    "dedup_snm_multipass",         # two rank windows over zero docs
    "text_spelling_correction",    # deletion join over an empty dict
    "dedup_tfidf_weighted_jaccard",  # n_docs crossJoin over empty corpus
    "dedup_match_scores",          # SNM candidates over zero docs
    "dedup_phash_clusters",        # CC fixpoint over zero media rows
    "dedup_clustering_coefficients",  # wedge join over an empty graph
    "events_theil_sen_trend",      # median pick over zero windows
    "ann_ivf_recall_report",       # kmeans seeds + joins on empty set
    "dedup_link_prediction_capped",  # degree gate over an empty graph
    "dedup_hub_cap_report",        # one all-zero row over an empty graph
    "ann_pq_recall_report",        # exact + PQ ranks over zero vectors
    "text_spelling_correction_d2",  # double-deletion join, empty dict
    "dedup_image_in_video",        # containment join over zero frames
    "dedup_link_prediction_ra",    # weighted wedges over an empty graph
    "dedup_video_frame_pairs_capped",  # df aggregate + hot arrays, empty
]


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_sf")
    for t in os.listdir(SF_SMOKE):
        if t.endswith(".parquet"):
            df = spark.read.parquet(os.path.join(SF_SMOKE, t))
            df.limit(0).write.parquet(str(d / t))
    return str(d)


@pytest.mark.parametrize("name", cvp_tiered(list(CVP_QUERIES) + AT_RISK))
def test_query_survives_empty_tables(spark, empty_sf, name):
    rows = registry.QUERIES[name](spark, empty_sf).collect()
    if name == "rules_catalog":
        # reads no table: the fixture INI's rules, unchanged
        assert len(rows) == len(registry.QUERIES[name](spark, SF_SMOKE).collect())
        assert rows
    elif name == "documents_curation_funnel":
        # global count aggregates: four stage rows, all zero
        assert [r.n_docs for r in rows] == [0, 0, 0, 0]
    elif name == "dedup_lsh_quality_report":
        # global counts: one row, zero pairs, vacuous ratios = 1.0
        assert len(rows) == 1
        r = rows[0]
        assert (r.n_candidates, r.n_true_pairs, r.n_verified) == (0, 0, 0)
        assert r.candidate_precision == 1.0 and r.recall == 1.0
    elif name == "dedup_graph_triangles":
        # global counts: one all-zero summary row
        assert len(rows) == 1
        assert tuple(rows[0]) == (0, 0, 0, 0, 0)
    elif name == "dedup_hub_cap_report":
        # global counts: one all-zero accounting row
        assert len(rows) == 1
        assert tuple(rows[0]) == (0, 0, 0, 0)
    else:
        assert rows == []
