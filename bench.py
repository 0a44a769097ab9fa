"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints the full JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": dir}
followed by a compact summary line (same metric/value, n_keys, no
per-query map) so a bounded stdout-tail capture still sees one whole
JSON object. Pass --record (or SPARK_GRAFT_BENCH_RECORD=1) to persist
the full record to BENCH_local.json (or $SPARK_GRAFT_BENCH_OUT).

Query set: the scan/join/window-heavy headline queries — the ones whose
plans must survive 100 TB. All-pairs verification baselines
(d_ngram_jaccard, d_embedding_dedup) are excluded by design: their
scale path is the LSH variants, which ARE benched.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from locopy_spark.session import get_spark

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q5_region_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q14_promo_revenue",
    "q18_large_orders",
    "q4_order_priority",
    "q9_product_profit",
    "q12_late_lines",
    "q13_customer_orders",
    "q21_waiting_supplier",
    "q_running_total",
    "q_moving_avg",
    "q_trailing_window",
    "q_cube_returns",
    "q_topk_per_group",
    "q_mktseg_pivot",
    "q_rollup_sales",
    "q_distinct_counts",
    "q_events_window",
    "q_events_sessionize",
    "q_events_funnel",
    "q_orders_asof_events",
    "q_asof_nearest",
    "q_retention_cohorts",
    "q_resample_ohlc",
    "q_gap_fill",
    "q_hypertable_rollup",
    "q_active_users",
    "q_stickiness",
    "q_changepoint",
    "q_levene",
    "q_welch_anova",
    "q_moods_median",
    "s_kappa",
    "s_ndcg_eval",
    "q_abc_xyz",
    "q_odds_ratio",
    "q_attribution_markov",
    "m_payload_dedup",
    "q_attribution_decay",
    "q_xmr_control",
    "q_brand_xcorr",
    "q_croston",
    "q_demand_obsolete",
    "q_bollinger",
    "q_rsi",
    "q_newsvendor",
    "q_jaccard_links",
    "q_little_law",
    "q_supplier_leadtime",
    "q_mase",
    "q_logrank",
    "q_ship_sla",
    "q_friedman",
    "q_clustering_coef",
    "q_mcnemar",
    "q_price_dispersion",
    "q_growth_accounting",
    "q_did",
    "q_cliffs_delta",
    "q_capture_recapture",
    "q_cuped",
    "q_posthoc_pairs",
    "q_attribution_shapley",
    "q_sprt",
    "q_bass_diffusion",
    "q_loyalty_migration",
    "q_ndr",
    "q_funnel_sig",
    "m_phash_near_dup",
    # round 10: new operators
    "q_jarque_bera",
    "q_cochran_q",
    "q_event_transitions",
    "q_events_variant",
    "q_user_streaks",
    "q_time_weighted_avg",
    "q_decay_score",
    "q_market_basket",
    "q_outlier_iqr",
    "q_mom_growth",
    "q_ab_test",
    "t_bm25",
    "t_keyword_extract",
    "q_anomaly_days",
    "q_funnel_windows",
    "q_hll_union",
    "t_novelty",
    "p_epoch_plan",
    "q_cusum",
    "p_stratified_split",
    "d_kmv_overlap",
    "q_incr_join_view",
    "s_hard_negatives",
    "p_train_order",
    "d_centroid_drift",
    "q_graph_triangles",
    "q_exp_smooth",
    "q_pagerank",
    "p_budget_trim",
    "d_lsh_calibration",
    "s_mips",
    "p_length_histogram",
    "p_curriculum_stages",
    "d_cluster_stats",
    "p_tokenizer_fertility",
    "s_ivf_tuning",
    "q_fuzzy_match",
    "t_freq_drift",
    "d_embedding_moments",
    "q_attribution_linear",
    "q_bloom_semijoin",
    "d_dedup_keep_best",
    "t_langid_confusion",
    "q_rfm_segmentation",
    "d_source_syndication",
    "d_pps_sample",
    "q_cohort_ltv",
    "q_percentiles",
    "q_range_join",
    "q_first_touch",
    "q_session_overlap",
    "q_order_gaps",
    "q_stats_moments",
    "q_correlation",
    "q_rolling_corr",
    "q_mad",
    "q_fk_integrity",
    "q_skyline",
    "q_profile_tables",
    "q_grouping_sets",
    "q_dow_revenue",
    "q_intersect_customers",
    "q_merge_upsert",
    "q_scd2_history",
    "q_value_deciles",
    "q20_excess_suppliers",
    "q_approx_percentiles",
    "d_exact_dedup",
    "d_minhash_lsh",
    "d_simhash",
    "d_dup_clusters",
    "d_hash_split",
    "d_incr_dedup",
    "s_knn_bruteforce",
    "d_knn_classify",
    "s_knn_lsh",
    "s_knn_ivf",
    "s_knn_int8",
    "s_knn_lsh_prod",
    "s_knn_ivf_prod",
    "s_knn_int8_prod",
    "t_lang_id",
    "t_quality_score",
    "t_token_count",
    "t_fingerprint",
    "t_quality_filter",
    "t_pii_scrub",
    "t_term_stats",
    "t_ngram_top",
    "d_embedding_centroids",
    "m_frame_sample",
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q_hash_sample",
    "q_unpivot_metrics",
    "s_tfidf_pairs",
    "s_kmeans",
    "q_window_funcs",
    "q_histogram",
    "d_source_dedup",
    "d_contamination",
    "q_key_skew",
    "q_cdc_apply",
    "q_snapshot_diff",
    "d_balanced_sample",
    "t_doc_chunks",
    "t_repetition",
    "p_mix_weights",
    "p_quality_mix_plan",
    "p_pack_sequences",
    "t_unigram_rarity",
    "t_bigram_pmi",
    "p_sample_corpus",
    "d_reservoir_sample",
    "t_heavy_hitters",
    "p_shard_plan",
    "t_bpe_pairs",
    "d_span_overlap",
    "p_dedup_corpus",
    "d_dedup_eval",
    # d_semantic_dedup (gated) is excluded like the other all-pairs
    # verification baselines: its oracle side IS the quadratic
    # baseline. The production path is benched:
    "d_semantic_dedup_prod",
    # round 6: trends / graph-reach / dataset-card / sketch family
    "q_ols_trend",
    "q_holt_linear",
    "q_theil_sen",
    "q_benford",
    "q_graph_reach",
    "p_dataset_card",
    "t_cms_counts",
    "q_winsorized",
    "s_pq_knn",
    "d_prefix_join",
    "q_decile_lift",
    "q_holt_winters",
    "q_weighted_quantiles",
    "q_gini",
    "q_ks_test",
    "q_mann_whitney",
    "q_spearman",
    "q_wilcoxon",
    "q_autocorr",
    "q_runs_test",
    "q_assortativity",
    "q_pareto_abc",
    "q_top_paths",
    "q_xcorr",
    "p_seqlen_plan",
    "p_vocab_coverage",
    "q_weekday_uplift",
    "q_interpurchase",
    "q_mann_kendall",
    "q_kendall_tau",
    "q_cramers_v",
    "q_goodman_lambda",
    "q_price_index",
    "q_hhi",
    "q_kaplan_meier",
    "q_kruskal_wallis",
    "q_new_vs_returning",
    "q_seasonal_decompose",
    "q_degree_dist",
    "t_code_detect",
    "t_boilerplate",
    "q_pattern_negation",
    "q_kcore",
    "s_rrf_fusion",
    "s_mmr_diversify",
    "q_sessions_concurrent",
    "s_prf_expand",
    "q_time_to_convert",
    "q_conversion_curve",
    "q_co_engagement",
    "p_dedup_yield",
    "q_cochran_armitage",
    "q_discount_elasticity",
    "t_readability",
    "t_ttr",
    "p_filter_funnel",
    "q_dq_audit",
    "q_lpa_communities",
    "s_centroid_purity",
    "q_session_gap_curve",
    "p_interleave_eval",
    "q_mix_drift",
    "q_partition_advisor",
    "p_resume_plan",
    "t_simpson_diversity",
    "t_zipf_deviation",
    "q_burstiness",
    "t_hapax_ratio",
    "d_norm_histogram",
    "q_calendar_heatmap",
    "s_hubness",
    "q_dormancy_curve",
    # round 7: close the unexplained bench gaps — every queries() key is
    # now either benched or carries a one-word reason in EXCLUDED below
    "q7_nation_volume",
    "q8_market_share",
    "q15_top_supplier",
    "q16_supplier_cnt",
    "q17_small_quantity",
    "q19_disjunctive",
    "q22_dormant_customers",
    "q_except_customers",
    "q_approx_distinct",
    "q_events_json_props",
    "q_events_json_typed",
    "q_incr_rollup",
    "m_multimodal_meta",
    "m_feature_extract",
    "m_resize",
    "p_clean_corpus",
    # round 7: new operators
    "q_nelson_aalen",
    "q_lorenz_curve",
    "q_anova",
    "s_mrr_eval",
    "q_markov_stationary",
    "s_centroid_assign",
    "q_backlog_aging",
    "q_fulfillment_lag",
    "t_vocab_growth",
    "q_peak_days",
    "q_seasonal_strength",
    "s_silhouette",
    "q_value_migration",
    "q_street_vs_list",
    "q_basket_size_dist",
    "q_revenue_bridge",
    "q_drawdown",
    "t_source_overlap",
    "q_type_overlap",
    # round 7: the 100x-scale deployment shape for the graph family —
    # materialize the co-purchase edge list ONCE as a bucketed table,
    # then run every consumer against it. Driver keys (q_pagerank etc.)
    # still stand alone per the driver contract; these *_shared twins
    # measure what a real deployment pays. Materialize must precede the
    # consumers in this list.
    "graph_edges_materialize",
    "q_graph_triangles_shared",
    "q_pagerank_shared",
    "q_graph_reach_shared",
    "q_assortativity_shared",
    "q_degree_dist_shared",
    "q_kcore_shared",
    "q_jaccard_links_shared",
    "q_clustering_coef_shared",
    "q_lpa_communities_shared",
    # round 10: the same amortization for the ANN family — materialize
    # the index (normed+int8 base, LSH postings, IVF lists+centroids)
    # ONCE as bucketed tables, then serve every knn consumer from it.
    # Driver keys (s_knn_lsh etc.) still stand alone per contract;
    # *_prod twins time the deployable plan with a live index build;
    # these *_shared twins time the serving path alone (what a steady-
    # state deployment pays per query).  Materialize must precede the
    # consumers in this list.
    "ann_index_materialize",
    "s_knn_lsh_shared",
    "s_knn_ivf_shared",
    "s_knn_int8_shared",
    "s_pq_knn_shared",
    # round 11: the lifecycle's rebuild arm — re-materialize from the
    # accumulated base under staging names + rename-swap into service
    # (operators/ann_index.refresh_ann_index). Runs LAST in the ANN
    # block so the serving probes above time the original index.
    "ann_index_refresh",
    # round 11: the retrieval family's instance of the same device —
    # the corpus tokenize + vocab df aggregate paid once into bucketed
    # tables (materialize_lexical_index); the *_shared twins serve the
    # lexical arm from storage. Materialize precedes the consumers.
    "lexical_index_materialize",
    "s_rrf_fusion_shared",
    "s_prf_expand_shared",
]

# Machine-readable exclusion manifest: queries() keys NOT benched, with
# the reason. all-pairs-oracle = the query IS the quadratic verification
# baseline whose scale path (the LSH/prod variant) is benched instead;
# prod-twin-priced = a *_prod bench twin times the deployable plan
# without the built-in recall tripwire; io-roundtrip = times tmpdir disk
# round-trips (COPY/UNLOAD correctness twins), not a 100 TB query plan.
EXCLUDED = {
    "d_ngram_jaccard": "all-pairs-oracle",
    "d_embedding_dedup": "all-pairs-oracle",
    "d_containment": "all-pairs-oracle",
    "d_edit_verify": "all-pairs-oracle",
    "d_semantic_dedup": "prod-twin-priced",
    "q_copy_csv": "io-roundtrip",
    "q_unload_roundtrip": "io-roundtrip",
}


_FULL_SET = frozenset(BENCH_QUERIES)


def _ann_prod_queries():
    """Production-path ANN timings: the oracle-gated s_knn_* queries run
    the approximate path PLUS a brute-force recall tripwire (~2x cost by
    construction); these *_prod twins time the deployable plan alone."""
    from locopy_spark.functions.cache import managed_persist
    from locopy_spark.operators import similarity
    from locopy_spark.queries.docs import KNN_K, KNN_QUERY_IDS
    from locopy_spark.sources.tables import load_table

    def _normed(spark, sf_dir, scope):
        # the persist is part of the production plan: the multi-table
        # LSH / IVF probe paths consume the normed table several times
        return managed_persist(
            similarity.with_fixed_norm(load_table(spark, sf_dir, "embeddings")),
            scope,
        )

    def lsh(spark, sf_dir):
        return similarity.knn_lsh(
            _normed(spark, sf_dir, "knn_lsh_prod"),
            query_ids=KNN_QUERY_IDS,
            k=KNN_K,
        )

    def ivf(spark, sf_dir):
        return similarity.knn_ivf(
            _normed(spark, sf_dir, "knn_ivf_prod"),
            query_ids=[0, 1, 2, 3, 4],
            k=5,
            n_centroids=16,
            n_probe=4,
        )

    def int8(spark, sf_dir):
        return similarity.knn_int8(
            _normed(spark, sf_dir, "knn_int8_prod"), query_ids=[0, 1, 2, 3, 4], k=5
        )

    def semdedup(spark, sf_dir):
        return similarity.semantic_dedup_pairs(
            _normed(spark, sf_dir, "semantic_dedup_prod")
        )

    return {
        "s_knn_lsh_prod": lsh,
        "s_knn_ivf_prod": ivf,
        "s_knn_int8_prod": int8,
        "d_semantic_dedup_prod": semdedup,
    }


_ANN_PREFIX = "bench_ann_index"


def _ann_shared_queries():
    """The amortized ANN-family shape (the graph family's device): the
    index derivations — LSH signature matmul, IVF assignment with its
    |corpus| window shuffle, int8 quantization — are paid once by
    ann_index_materialize into bucketed managed tables; the *_shared
    twins serve queries from storage with zero corpus-sized rebuild
    work.  Result-identity vs the standalone operators is asserted in
    tests/test_similarity.py."""
    from locopy_spark.operators import ann_index
    from locopy_spark.queries.docs import KNN_K, KNN_QUERY_IDS
    from locopy_spark.sources.tables import load_table

    def materialize(spark, sf_dir):
        tables = ann_index.materialize_ann_index(
            load_table(spark, sf_dir, "embeddings"), prefix=_ANN_PREFIX
        )
        return tables["postings"]

    def lsh(spark, sf_dir):
        return ann_index.knn_lsh_indexed(
            spark, KNN_QUERY_IDS, KNN_K, prefix=_ANN_PREFIX
        )

    def ivf(spark, sf_dir):
        return ann_index.knn_ivf_indexed(
            spark, [0, 1, 2, 3, 4], 5, n_probe=4, prefix=_ANN_PREFIX
        )

    def int8(spark, sf_dir):
        return ann_index.knn_int8_indexed(
            spark, [0, 1, 2, 3, 4], 5, prefix=_ANN_PREFIX
        )

    def pq(spark, sf_dir):
        return ann_index.knn_pq_indexed(
            spark, KNN_QUERY_IDS, KNN_K, prefix=_ANN_PREFIX
        )

    def refresh(spark, sf_dir):
        # the rebuild arm: re-centroid/re-bucket the ACCUMULATED base
        # (here the stored corpus) under staging names, then rename-swap
        # into service — the maintenance step the frozen-quantizer
        # streaming appends cannot do
        ann_index.refresh_ann_index(spark, prefix=_ANN_PREFIX)
        return spark.table(ann_index.ann_table_names(_ANN_PREFIX)["postings"])

    return {
        "ann_index_materialize": materialize,
        "s_knn_lsh_shared": lsh,
        "s_knn_ivf_shared": ivf,
        "s_knn_int8_shared": int8,
        "s_pq_knn_shared": pq,
        "ann_index_refresh": refresh,
    }


_LEX_PREFIX = "bench_lex_index"


def _lex_shared_queries():
    """The amortized lexical-retrieval shape: materialize_lexical_index
    pays the corpus tokenize/explode + the vocabulary df aggregate once
    into bucketed managed tables; the *_shared twins serve s_rrf_fusion
    and s_prf_expand's lexical arms from storage (zero re-tokenize).
    Result-identity vs the standalone queries is pytest-asserted
    (tests/test_round11_ops.py)."""
    from locopy_spark.queries import docs_ext
    from locopy_spark.sources.tables import load_table

    def materialize(spark, sf_dir):
        tables = docs_ext.materialize_lexical_index(
            load_table(spark, sf_dir, "documents"), prefix=_LEX_PREFIX
        )
        return tables["postings"]

    def _tables(spark):
        names = docs_ext.lexical_table_names(_LEX_PREFIX)
        return {t: spark.table(n) for t, n in names.items()}

    def rrf(spark, sf_dir):
        return docs_ext.s_rrf_fusion(spark, sf_dir, lex_tables=_tables(spark))

    def prf(spark, sf_dir):
        return docs_ext.s_prf_expand(spark, sf_dir, lex_tables=_tables(spark))

    return {
        "lexical_index_materialize": materialize,
        "s_rrf_fusion_shared": rrf,
        "s_prf_expand_shared": prf,
    }


_EDGES_TABLE = "bench_copurchase_edges"
_DEG_TABLE = "bench_copurchase_deg"
_EDGES_DEG_TABLE = "bench_copurchase_edges_deg"
_ADJ_CAP_TABLE = "bench_copurchase_adj_cap"


def _graph_shared_queries():
    """The amortized graph-family shape: at 100x the edge list is built
    once, SUPPORT-ANNOTATED (a, b, sup — the pair aggregate IS the
    distinct, so support costs nothing extra) and bucketed by ``a`` so
    downstream equi-joins on the bucket key read it pre-partitioned.
    Every graph consumer shares it: plain consumers read the (a, b)
    projection, the community family (q_lpa_communities) reads the
    sup >= LPA_MIN_SUPPORT slice — one basket expansion for the whole
    family.  Each _shared twin injects via the queries' ``edges=``
    parameter; graph_edges_materialize times the one-off build."""
    from locopy_spark.queries import mining
    from locopy_spark.sources.bucketed import write_bucketed

    def materialize(spark, sf_dir):
        from pyspark.sql import functions as F

        from locopy_spark.functions.parallel import ensure_group_parallelism

        l = ensure_group_parallelism(
            mining.load_table(spark, sf_dir, "lineitem"), "l_orderkey"
        )
        baskets = l.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("ps")
        )
        annotated = (
            baskets.select(
                F.explode(
                    F.expr(mining.basket_pairs_expr("ps", "a", "b"))
                ).alias("p")
            )
            .select("p.a", "p.b")
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("sup"))
        )
        write_bucketed(
            annotated,
            _EDGES_TABLE,
            "a",
            n_buckets=8,
            sort_cols=["a", "b"],
        )
        # round 10: the degree table and the dst-partitioned degree-
        # annotated directed doubling are index-time artifacts too —
        # every consumer re-derived them per query (one |2E| endpoint
        # shuffle each; pagerank additionally its build join).  Write
        # them once: (v, d) bucketed by v, and (src, dst, d) bucketed
        # by dst so pagerank's per-iteration groupBy(dst) aggregates
        # exchange-free straight off storage.
        e = spark.table(_EDGES_TABLE).select("a", "b")
        # r11: persist the doubling — three writes below derive from it
        # (deg, edges_deg, adj_cap), each otherwise re-scanning the
        # edges table twice for the union.  The SEQUENTIAL deg write
        # populates the cache, so the concurrent second wave reads it
        # without the duplicate-compute race that sank the wave-overlap
        # experiment (interleaved A/B: 4.46 -> 3.31 s min, 5.11 -> 3.82
        # mean at sf0.1; tables bit-identical).
        und = (
            e.selectExpr("a AS src", "b AS dst")
            .unionByName(e.selectExpr("b AS src", "a AS dst"))
            .persist()
        )
        try:
            deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
            write_bucketed(
                deg.selectExpr("src AS v", "d"),
                _DEG_TABLE,
                "v",
                n_buckets=8,
                sort_cols=["v"],
            )
        # the two remaining writes depend only on the degree table just
        # landed — run them concurrently (the ann_index materialize
        # device): each back-fills executors the other's stage tail
        # leaves idle; table names are disjoint so the writes cannot
        # collide
            def _edges_deg():
                # no sort_cols: the consumer (pagerank's groupBy(dst))
                # needs only the bucket partitioning, and sorting 2|E|
                # rows at write time buys nothing a hash aggregate can
                # use
                write_bucketed(
                    und.join(
                        spark.table(_DEG_TABLE).selectExpr(
                            "v AS src", "d"
                        ),
                        "src",
                    ),
                    _EDGES_DEG_TABLE,
                    "dst",
                    n_buckets=8,
                )

            def _adj_cap():
                # round 11: the CAPPED adjacency (middles of degree <=
                # LP_DEGCAP) is the wedge source BOTH q_jaccard_links
                # and q_clustering_coef re-derived per query (one |2E|
                # join each); bucketed+sorted by v, their wedge
                # self-joins read it pre-partitioned with zero exchange
                # on either side.
                write_bucketed(
                    und.selectExpr("src AS v", "dst AS n").join(
                        spark.table(_DEG_TABLE).filter(
                            f"d <= {mining.LP_DEGCAP}"
                        ).select("v"),
                        "v",
                    ),
                    _ADJ_CAP_TABLE,
                    "v",
                    n_buckets=8,
                    sort_cols=["v"],
                )

            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                for f in [pool.submit(fn) for fn in (_edges_deg, _adj_cap)]:
                    f.result()
        finally:
            # ADVICE r11: without the finally a failed write leaked
            # the persisted doubling for the rest of the session
            und.unpersist()
        return spark.table(_EDGES_TABLE)

    def _shared(fn):
        def run(spark, sf_dir):
            return fn(
                spark, sf_dir,
                edges=spark.table(_EDGES_TABLE).select("a", "b"),
            )

        return run

    def _shared_deg(fn):
        def run(spark, sf_dir):
            return fn(
                spark, sf_dir,
                edges=spark.table(_EDGES_TABLE).select("a", "b"),
                degrees=spark.table(_DEG_TABLE),
            )

        return run

    def _pagerank_shared(spark, sf_dir):
        return mining.q_pagerank(
            spark, sf_dir,
            edges_deg=spark.table(_EDGES_DEG_TABLE),
            degrees=spark.table(_DEG_TABLE),
        )

    def _shared_adj(fn):
        def run(spark, sf_dir):
            return fn(
                spark, sf_dir,
                edges=spark.table(_EDGES_TABLE).select("a", "b"),
                degrees=spark.table(_DEG_TABLE),
                adjacency=spark.table(_ADJ_CAP_TABLE),
            )

        return run

    def _shared_sparse(fn):
        def run(spark, sf_dir):
            return fn(
                spark, sf_dir,
                edges=spark.table(_EDGES_TABLE)
                .filter(f"sup >= {mining.LPA_MIN_SUPPORT}")
                .select("a", "b"),
            )

        return run

    return {
        "graph_edges_materialize": materialize,
        "q_graph_triangles_shared": _shared_deg(mining.q_graph_triangles),
        "q_pagerank_shared": _pagerank_shared,
        "q_graph_reach_shared": _shared(mining.q_graph_reach),
        "q_assortativity_shared": _shared_deg(mining.q_assortativity),
        "q_degree_dist_shared": _shared_deg(mining.q_degree_dist),
        "q_kcore_shared": _shared_deg(mining.q_kcore),
        "q_jaccard_links_shared": _shared_adj(mining.q_jaccard_links),
        "q_clustering_coef_shared": _shared_adj(mining.q_clustering_coef),
        "q_lpa_communities_shared": _shared_sparse(mining.q_lpa_communities),
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="locopy_spark_bench")
    qs = {
        **entrymod.queries(),
        **_ann_prod_queries(),
        **_graph_shared_queries(),
        **_ann_shared_queries(),
        **_lex_shared_queries(),
    }
    timings: dict[str, float] = {}
    # warm the JVM + file listing so q1 isn't charged for session startup
    qs["q1_pricing_summary"](spark, sf_dir).count()
    for name in BENCH_QUERIES:
        if name not in qs:
            continue
        # best-of-2: the first run pays janino codegen compilation and
        # is exposed to transient host stalls; the min is the
        # steady-state number that projects to cluster scale
        best, n = None, 0
        # best-of-2, plus a third trial when the best still exceeds 2 s
        # — GC/host stalls occasionally hit both trials of a heavy
        # query back-to-back, and one retry absorbs that tail
        for trial in range(3):
            if trial == 2 and best is not None and best <= 2.0:
                break
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            n = qs[name](spark, sf_dir).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 4)
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)
        # drop operator-internal persisted tables (minhash sigs etc.)
        # so later queries aren't measured under earlier queries' cache
        spark.catalog.clearCache()
    total = round(sum(timings.values()), 4)
    # The driver captures a bounded TAIL of stdout, so the end of the
    # full line is what survives: order the per-query map with the
    # current driver window's keys LAST so the captured fragment shows
    # the newest/rotated keys instead of an arbitrary suffix
    # (BENCH_r08's tail cut at ~55 arbitrary keys).
    window = set(list(entrymod.queries())[:50])
    ordered = {k: v for k, v in timings.items() if k not in window}
    ordered.update({k: v for k, v in timings.items() if k in window})
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": ordered,
        "excluded": EXCLUDED,
        "sf": sf_dir,
    }
    print(json.dumps(payload))
    # The driver captures stdout with a bounded TAIL: with 148+ keys the
    # full line's head falls outside the buffer and the driver records
    # "parsed": null (BENCH_r04/r05). Print a final COMPACT summary line
    # (no per-query map) so the tail always contains one parseable JSON
    # object regardless of key count.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "n_keys": len(timings),
                "n_excluded": len(EXCLUDED),
                "sf": sf_dir,
            }
        )
    )
    # r12 (VERDICT r11 item 8): the driver's bounded stdout tail kills
    # its per-query comparison (n_common: 0 in PERF_r11).  Write the
    # full per-key map UNCONDITIONALLY to a run-scoped sidecar on
    # every full-set run — a separate file from the curated
    # BENCH_local.json record, so foreign/contended runs never clobber
    # the quiet-host record, and the compact contract line stays LAST
    # on stdout (additions only).
    if set(BENCH_QUERIES) == _FULL_SET:
        try:
            side = os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "BENCH_lastrun.json",
            )
            with open(side, "w") as fh:
                json.dump(payload, fh, indent=1)
                fh.write("\n")
        except OSError:
            pass  # read-only checkout: stdout line is still the contract
    # The full per-query record is persisted in-repo ONLY on explicit
    # opt-in (--record / SPARK_GRAFT_BENCH_RECORD=1): foreign re-runs
    # (the driver, contended hosts) must not overwrite the committed
    # quiet-host record, and A/B subset runs (edited or monkeypatched
    # BENCH_QUERIES) must never clobber the last full record.
    record = "--record" in sys.argv or os.environ.get("SPARK_GRAFT_BENCH_RECORD")
    if not record or set(BENCH_QUERIES) != _FULL_SET:
        spark.stop()
        return 0
    out = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"),
    )
    try:
        with open(out, "w") as fh:
            json.dump(payload, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: stdout line is still the contract
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
