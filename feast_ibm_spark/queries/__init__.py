"""Named queries + DuckDB oracle SQL — the driver-facing inventory.

Round-5 split of the former 5,900-line ``queries.py`` monolith into
per-family modules; the public surface is unchanged — ``QUERIES`` /
``DRIVER_QUERIES`` and every ``q_*`` / ``ORACLE_*`` / constant name still
import from ``feast_ibm_spark.queries``. Family map:

- ``core``        — reference surface (pull_all / pull_latest / PIT joins,
                    sessionize incl. both streaming drains)
- ``tpch``        — TPC-H-shape scan/agg/join analytics (+ decorrelation)
- ``tpch_extra``  — the round-4 completion of the join topologies
- ``corpus``      — dedup tiers, curation, clustering, split/packing,
                    vocab/unigram LM
- ``knn``         — similarity search over embeddings (exact + 3 ANN tiers)
- ``text``        — text analysis (quality, lang-ID, fingerprint, BM25, ...)
- ``multimodal``  — binary media columns + real PNG/BMP/WAV codecs
- ``materialize`` — incremental materialization + aggregate IVM
- ``temporal``    — partitioned PIT, as-of variants, range join, OHLC,
                    histogram/outliers
- ``behavioral``  — sessions/funnels/retention/attribution + feature shapes
- ``pipelines``   — streaming latest/enrich, z-order, chunk+pack, and the
                    flagship training_pipeline_e2e composition

Shared helpers (QueryDef, ``_t``, the common operator imports) live in
``_shared``; cross-family constants import explicitly at each use site.
"""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from ._shared import QueryDef, _t  # noqa: F401
from .core import *  # noqa: F401,F403
from .tpch import *  # noqa: F401,F403
from .tpch_extra import *  # noqa: F401,F403
from .corpus import *  # noqa: F401,F403
from .corpus import _ORACLE_JACCARD_PAIRS  # noqa: F401
from .knn import *  # noqa: F401,F403
from .text import *  # noqa: F401,F403
from .multimodal import *  # noqa: F401,F403
from .materialize import *  # noqa: F401,F403
from .temporal import *  # noqa: F401,F403
from .behavioral import *  # noqa: F401,F403
from .pipelines import *  # noqa: F401,F403

# Registry
# --------------------------------------------------------------------------

QUERIES: dict[str, QueryDef] = {
    "pull_all_time_range": QueryDef(q_pull_all_time_range, ORACLE_PULL_ALL,
                                    "S2+P1+F1 time-range scan"),
    "pull_all_query_source": QueryDef(q_pull_all_query_source,
                                      ORACLE_PULL_ALL_QUERY,
                                      "S1+S3 table + inline-query source scan"),
    "pull_latest_per_key": QueryDef(q_pull_latest_per_key, ORACLE_PULL_LATEST,
                                    "A1+J2->W1 latest per key"),
    "pit_join_ttl": QueryDef(q_pit_join_ttl, ORACLE_PIT_TTL,
                             "J1 flagship as-of join, TTL=1d (range join)"),
    "pit_join_nottl": QueryDef(q_pit_join_nottl, ORACLE_PIT_NOTTL,
                               "J1 as-of join, TTL=0 (no lower bound)"),
    "pit_join_shuffle": QueryDef(q_pit_join_shuffle, ORACLE_PIT_TTL,
                                 "as-of join via the range join's shuffle side"),
    "pit_join_union_window": QueryDef(q_pit_join_union_window, ORACLE_PIT_TTL,
                                      "J1 via melt/union-window strategy"),
    "pit_join_multiview": QueryDef(q_pit_join_multiview, ORACLE_PIT_MULTIVIEW,
                                   "J5 multi-view chain + P2 full_feature_names"),
    "pit_join_partitioned": QueryDef(q_pit_join_partitioned, ORACLE_PIT_TTL,
                                     "J1 + F3: date_partition_column predicates "
                                     "prune day directories (ref :665-674)"),
    "materialize_incremental": QueryDef(q_materialize_incremental,
                                        ORACLE_MATERIALIZE_INCR,
                                        "two materialize increments == one "
                                        "full-range recompute (idempotent refresh)"),
    "unpivot_part_attrs": QueryDef(q_unpivot_part_attrs, ORACLE_UNPIVOT,
                                   "UNPIVOT/melt to long attribute rows"),
    "window_rolling_24h": QueryDef(q_window_rolling_24h, ORACLE_ROLLING_24H,
                                   "RANGE-frame rolling 24h count over "
                                   "event time"),
    "array_norm_stats": QueryDef(q_array_norm_stats, ORACLE_ARRAY_NORM,
                                 "array fold L2 norms, per-label stats"),
    "sessionize_native_window": QueryDef(q_sessionize_native_window,
                                         ORACLE_SESSIONIZE,
                                         "built-in session_window aggregation "
                                         "— third formulation, same oracle"),
    "sessionize_dynamic_gap": QueryDef(q_sessionize_dynamic_gap,
                                       ORACLE_SESSIONIZE_DYNGAP,
                                       "per-event DYNAMIC gap sessions "
                                       "(interval column; running-max "
                                       "break-rule oracle)"),
    "pivot_event_counts": QueryDef(q_pivot_event_counts, ORACLE_PIVOT,
                                   "PIVOT to one count column per event type"),
    "resample_locf": QueryDef(q_resample_locf, ORACLE_RESAMPLE,
                              "regular time-grid snapshots per key, LOCF "
                              "(melt+window vs DuckDB ASOF JOIN oracle)"),
    "materialize_partitioned": QueryDef(q_materialize_partitioned,
                                        ORACLE_MATERIALIZE_INCR,
                                        "day-partitioned materialize; a re-run "
                                        "replaces its partitions (idempotent "
                                        "retry, same full-range oracle)"),
    "merge_cdc_snapshot": QueryDef(q_merge_cdc_snapshot, ORACLE_MERGE_CDC,
                                   "CDC merge: upserts + deletes applied to a "
                                   "keyed snapshot via union + one window "
                                   "(no join)"),
    "pull_latest_tiebreak": QueryDef(q_pull_latest_tiebreak,
                                     ORACLE_PULL_LATEST_TIEBREAK,
                                     "A3 created-ts tiebreak on day-level ties"),
    "pull_latest_keep_ties": QueryDef(q_pull_latest_keep_ties,
                                      ORACLE_PULL_LATEST_KEEP_TIES,
                                      "J2 reference-compat keep-all-ties (RANK)"),
    "sessionize_events": QueryDef(q_sessionize_events, ORACLE_SESSIONIZE,
                                  "gap sessionization (lag + running sum)"),
    "streaming_sessionize": QueryDef(q_streaming_sessionize, ORACLE_SESSIONIZE,
                                     "stateful Structured-Streaming sessionize "
                                     "drained via availableNow — exact oracle"),
    "streaming_sessionize_files": QueryDef(
        q_streaming_sessionize_files, ORACLE_SESSIONIZE,
        "drained sessionize through a distributed PARQUET file sink "
        "(exactly-once _spark_metadata read-back) — same exact oracle"),
    "scan_part_filter": QueryDef(q_scan_part_filter, ORACLE_SCAN_PART,
                                 "S2 scan + F pushdown + P1 projection"),
    "agg_pricing_summary": QueryDef(q_agg_pricing_summary, ORACLE_AGG_PRICING,
                                    "hash agg w/ decimal accumulation (Q1 shape)"),
    "agg_revenue_forecast": QueryDef(q_agg_revenue_forecast, ORACLE_AGG_REVENUE,
                                     "scan-agg with full pushdown (Q6 shape)"),
    "agg_event_type_stats": QueryDef(q_agg_event_type_stats,
                                     ORACLE_EVENT_TYPE_STATS,
                                     "grouped COUNT(DISTINCT) + exact stats"),
    "join_top_orders": QueryDef(q_join_top_orders, ORACLE_JOIN_TOP_ORDERS,
                                "3-way join + agg + deterministic top-k (Q3)"),
    "join_semi_late_orders": QueryDef(q_join_semi_late_orders, ORACLE_JOIN_SEMI_LATE,
                                      "EXISTS -> left-semi join + agg (Q4 shape)"),
    "join_anti_quiet_customers": QueryDef(q_join_anti_quiet_customers,
                                          ORACLE_JOIN_ANTI_QUIET,
                                          "NOT EXISTS -> left-anti join + agg"),
    "agg_rollup_region_revenue": QueryDef(q_agg_rollup_region_revenue,
                                          ORACLE_ROLLUP_REGION,
                                          "ROLLUP grouping sets over broadcast dims"),
    "agg_approx_event_stats": QueryDef(q_agg_approx_event_stats, None,
                                       "HLL++ distinct + sketch percentiles "
                                       "(approximate by design; rows-only)"),
    "agg_value_percentiles": QueryDef(q_agg_value_percentiles,
                                      ORACLE_VALUE_PERCENTILES,
                                      "exact interpolated percentiles per group"),
    "agg_smallqty_revenue": QueryDef(q_agg_smallqty_revenue, ORACLE_SMALLQTY,
                                     "correlated avg subquery, decorrelated (Q17)"),
    "join_order_count_distribution": QueryDef(q_join_order_count_distribution,
                                              ORACLE_ORDER_COUNT_DIST,
                                              "left-outer double aggregation (Q13)"),
    "join_promo_revenue": QueryDef(q_join_promo_revenue, ORACLE_PROMO_REVENUE,
                                   "OR-of-ANDs disjunctive predicates (Q19)"),
    "scan_json_props": QueryDef(q_scan_json_props, ORACLE_JSON_PROPS,
                                "typed from_json extraction + aggregate"),
    "scan_xml_source": QueryDef(q_scan_xml_source, ORACLE_CSV_SOURCE,
                                "XML object source (Spark 4 built-in "
                                "reader; sixth source format) — cents "
                                "ride the text roundtrip exactly"),
    "scan_orc_source": QueryDef(q_scan_orc_source, ORACLE_CSV_SOURCE,
                                "S2 extension: ORC object source (same "
                                "oracle as the CSV twin)"),
    "scan_csv_source": QueryDef(q_scan_csv_source, ORACLE_CSV_SOURCE,
                                "S2 non-parquet format: CSV object source"),
    "scan_text_logs": QueryDef(q_scan_text_logs, ORACLE_TEXT_LOGS,
                               "S2 extension: raw log-line text source, "
                               "regexp_extract parse roundtrip"),
    "scan_partitioned_events": QueryDef(q_scan_partitioned_events,
                                        ORACLE_PARTITIONED_SCAN,
                                        "native partition pruning over a "
                                        "date-partitioned layout (F3)"),
    "agg_cube_status_priority": QueryDef(q_agg_cube_status_priority,
                                         ORACLE_CUBE_STATUS,
                                         "CUBE grouping sets (4 sets, one scan)"),
    "join_nation_trade_flow": QueryDef(q_join_nation_trade_flow,
                                       ORACLE_NATION_TRADE,
                                       "two-dimension-branch star join (Q7)"),
    "set_user_cohorts": QueryDef(q_set_user_cohorts, ORACLE_SET_COHORTS,
                                 "EXCEPT / INTERSECT cohort sets"),
    "window_running_total": QueryDef(q_window_running_total, ORACLE_RUNNING_TOTAL,
                                     "cumulative windowed sum (ROWS frame)"),
    "join_region_revenue": QueryDef(q_join_region_revenue, ORACLE_JOIN_REGION,
                                    "star join through region/nation (Q5)"),
    "dedup_exact": QueryDef(q_dedup_exact, ORACLE_DEDUP_EXACT,
                            "exact dedup via hash groupBy"),
    "dedup_ngram_jaccard": QueryDef(q_dedup_ngram_jaccard, _ORACLE_JACCARD_PAIRS,
                                    "exact n-gram Jaccard pairs"),
    "dedup_jaccard_prefix": QueryDef(q_dedup_jaccard_prefix,
                                     _ORACLE_JACCARD_PAIRS,
                                     "EXACT Jaccard pairs via prefix filter "
                                     "(AllPairs/PPJoin) — scale-exact tier"),
    "dedup_minhash_lsh": QueryDef(q_dedup_minhash_lsh, _ORACLE_JACCARD_PAIRS,
                                  "MinHash+LSH candidates, exact-verified"),
    "dedup_keep_latest": QueryDef(q_dedup_keep_latest, ORACLE_DEDUP_KEEP_LATEST,
                                  "keep-newest-row dedup on a composite key"),
    "dedup_simhash": QueryDef(q_dedup_simhash, ORACLE_DEDUP_SIMHASH,
                              "32-bit SimHash signatures"),
    "dedup_simhash_pairs": QueryDef(q_dedup_simhash_pairs, ORACLE_SIMHASH_PAIRS,
                                    "hamming<=3 pairs, pigeonhole-blocked"),
    "join_waiting_suppliers": QueryDef(q_join_waiting_suppliers,
                                       ORACLE_WAITING_SUPPLIERS,
                                       "Q21-shape double-correlated "
                                       "EXISTS/NOT EXISTS, decorrelated"),
    "join_large_orders": QueryDef(q_join_large_orders, ORACLE_LARGE_ORDERS,
                                  "Q18-shape HAVING aggregate driving a "
                                  "join"),
    "join_top_supplier": QueryDef(q_join_top_supplier, ORACLE_TOP_SUPPLIER,
                                  "Q15-shape scalar-max-of-view filter"),
    "agg_promo_share": QueryDef(q_agg_promo_share, ORACLE_PROMO_SHARE,
                                "Q14-shape conditional-aggregate share"),
    "join_returned_customers": QueryDef(q_join_returned_customers,
                                        ORACLE_RETURNED_CUSTOMERS,
                                        "Q10-shape returns top-k"),
    "join_excess_suppliers": QueryDef(q_join_excess_suppliers,
                                      ORACLE_EXCESS_SUPPLIERS,
                                      "Q20-shape correlated share-of-total, "
                                      "decorrelated"),
    "agg_global_avg_filter": QueryDef(q_agg_global_avg_filter,
                                      ORACLE_GLOBAL_AVG_FILTER,
                                      "Q22-shape scalar-avg filter + anti join"),
    "window_spend_quartiles": QueryDef(q_window_spend_quartiles,
                                       ORACLE_SPEND_QUARTILES,
                                       "NTILE quartile bucketing"),
    "dedup_clusters": QueryDef(q_dedup_clusters, ORACLE_DEDUP_CLUSTERS,
                               "connected components over near-dup pairs "
                               "(iterative min-label propagation)"),
    "dedup_clusters_star": QueryDef(q_dedup_clusters_star,
                                    ORACLE_DEDUP_CLUSTERS,
                                    "same components via large-star/"
                                    "small-star (O(log^2 n) rounds on "
                                    "adversarial graphs)"),
    "dedup_clusters_lsh": QueryDef(q_dedup_clusters_lsh, ORACLE_DEDUP_CLUSTERS,
                                   "clusters over the MinHash-LSH pair tier "
                                   "(the scale composition)"),
    "split_train_val_test": QueryDef(q_split_train_val_test, ORACLE_SPLIT,
                                     "deterministic hash-bucketed dataset split"),
    "pack_sequences": QueryDef(q_pack_sequences, ORACLE_PACK,
                               "token-budget sequence packing per shard"),
    "sample_stratified": QueryDef(q_sample_stratified, ORACLE_SAMPLE_STRATIFIED,
                                  "per-language deterministic fraction "
                                  "sampling (map-only)"),
    "mix_domains": QueryDef(q_mix_domains, ORACLE_MIX_DOMAINS,
                            "exact-count domain mixing via deterministic "
                            "per-group take-N"),
    "peak_open_orders": QueryDef(q_peak_open_orders, ORACLE_PEAK_OPEN,
                                 "sweep-line interval concurrency: peak "
                                 "open orders per priority"),
    "agg_salted_hot_keys": QueryDef(q_agg_salted_hot_keys,
                                    ORACLE_SALTED_HOT_KEYS,
                                    "salted two-phase agg over hot keys "
                                    "(skew lever; row-identical to the "
                                    "direct groupBy oracle)"),
    "window_moving_median": QueryDef(q_window_moving_median,
                                     ORACLE_MOVING_MEDIAN,
                                     "rolling 7-event EXACT median per user "
                                     "(frame-bounded collect+sort, no "
                                     "whole-partition state)"),
    "window_sliding_distinct": QueryDef(q_window_sliding_distinct,
                                        ORACLE_SLIDING_DISTINCT,
                                        "trailing-7d distinct actives via "
                                        "map-side window expansion"),
    "window_sliding_distinct_hll": QueryDef(q_window_sliding_distinct_hll,
                                            None,
                                            "same via per-day HLL sketch "
                                            "union (partial-sketch reuse; "
                                            "rows-only)"),
    "copurchase_pairs": QueryDef(q_copurchase_pairs, ORACLE_COPURCHASE,
                                 "market-basket co-occurrence top-k "
                                 "(bounded per-order clique)"),
    "event_paths": QueryDef(q_event_paths, ORACLE_EVENT_PATHS,
                            "top-k 3-step event-type paths (lead x2, "
                            "one window)"),
    "agg_value_mad": QueryDef(q_agg_value_mad, ORACLE_VALUE_MAD,
                              "median/MAD robust dispersion + outlier "
                              "rule (exact percentiles)"),
    "sessionize_bounce_rate": QueryDef(q_sessionize_bounce_rate,
                                       ORACLE_BOUNCE_RATE,
                                       "per-user session count/bounce "
                                       "rate over the sessionizer"),
    "text_keywords": QueryDef(q_text_keywords, ORACLE_TEXT_KEYWORDS,
                              "per-doc top-3 keywords by tf x linear idf "
                              "(exact ranking)"),
    "dedup_incremental": QueryDef(q_dedup_incremental,
                                  ORACLE_DEDUP_INCREMENTAL,
                                  "incremental ingestion dedup: new batch "
                                  "vs existing corpus, best match"),
    "corpus_curation_incremental": QueryDef(q_corpus_curation_incremental,
                                            ORACLE_CURATION_INCREMENTAL,
                                            "batch admission curation vs "
                                            "existing corpus (no history "
                                            "re-curation)"),
    "sample_weighted": QueryDef(q_sample_weighted, ORACLE_SAMPLE_WEIGHTED,
                                "deterministic weight-proportional "
                                "priority sampling per group"),
    "text_similarity_topk": QueryDef(q_text_similarity_topk,
                                     ORACLE_TEXT_SEARCH,
                                     "lexical top-k similarity search "
                                     "(asymmetric inverted-index probe)"),
    "profile_columns": QueryDef(q_profile_columns, ORACLE_PROFILE,
                                "one-pass column profile (null/distinct/"
                                "min/max per column)"),
    "text_bm25": QueryDef(q_text_bm25, ORACLE_BM25,
                          "BM25 relevance scores (rtol parity; ln ulp)"),
    "text_bm25_counts": QueryDef(q_text_bm25_counts, ORACLE_BM25_COUNTS,
                                 "hash-stable BM25 integer ingredients "
                                 "(tf/df/dl/N/sum_dl — VERDICT r8 item 1)"),
    "text_repetition": QueryDef(q_text_repetition, ORACLE_REPETITION,
                                "Gopher-style duplicate/top n-gram fractions"),
    "decontaminate_overlap": QueryDef(q_decontaminate_overlap,
                                      ORACLE_DECONTAMINATE,
                                      "benchmark n-gram contamination check"),
    "corpus_curation": QueryDef(q_corpus_curation, ORACLE_CURATION,
                                "composed pipeline: dedup -> quality -> near-dup"),
    "corpus_curation_lsh": QueryDef(q_corpus_curation_lsh, ORACLE_CURATION,
                                    "curation with the MinHash-LSH near-dup tier "
                                    "(the 100 TB path) — same exact oracle"),
    "knn_cosine_topk": QueryDef(q_knn_cosine_topk, ORACLE_KNN,
                                "brute-force cosine top-k"),
    "embed_linear_probe": QueryDef(q_embed_linear_probe,
                                   ORACLE_LINEAR_PROBE,
                                   "batch inference: K-class linear probe "
                                   "head, map-side ordered-fold scoring, "
                                   "argmax + correctness"),
    "eval_lang_confusion": QueryDef(q_eval_lang_confusion,
                                    ORACLE_LANG_CONFUSION,
                                    "language-ID confusion matrix vs the "
                                    "labeled lang column (exact cells + "
                                    "row shares)"),
    "eval_auc": QueryDef(q_eval_auc, ORACLE_AUC,
                         "EXACT ROC-AUC (Mann-Whitney integer "
                         "formulation; ties exact via odd numerator)"),
    "eval_pr_curve": QueryDef(q_eval_pr_curve, ORACLE_PR_CURVE,
                              "model eval: exact PR confusion counts at "
                              "9 thresholds in one pass"),
    "text_cms_heavy_hitters": QueryDef(q_text_cms_heavy_hitters,
                                       ORACLE_CMS_HEAVY_HITTERS,
                                       "Count-Min sketch heavy hitters: "
                                       "integer counters value-hash the "
                                       "sketch itself vs exact counts"),
    "eval_retrieval_ranks": QueryDef(q_eval_retrieval_ranks,
                                     ORACLE_RETRIEVAL_RANKS,
                                     "ranking eval: integer rank stats "
                                     "(first-hit rank, hits@10, "
                                     "n_relevant) over exact cosine"),
    "knn_lsh": QueryDef(q_knn_lsh, ORACLE_KNN_LSH,
                        "hyperplane-LSH ANN (full value-hash oracle "
                        "since round 6: seeded planes as SQL literals)"),
    "knn_ivfpq": QueryDef(q_knn_ivfpq, ORACLE_KNN_IVFPQ,
                          "IVF+PQ residual ANN (full value-hash oracle "
                          "since round 6: route + residual-ADC + "
                          "re-rank all in SQL)"),
    "knn_pq": QueryDef(q_knn_pq, ORACLE_KNN_PQ,
                       "PQ (ADC) ANN with exact re-rank — deterministic "
                       "seed codebooks; full value-hash oracle"),
    "knn_ivf": QueryDef(q_knn_ivf, ORACLE_KNN_IVF,
                        "IVF cell-probe ANN (deterministic seed cells; "
                        "full value-hash oracle)"),
    "embedding_near_dup": QueryDef(q_embedding_near_dup, ORACLE_NEAR_DUP,
                                   "embedding-cosine near-dup pairs"),
    "embedding_near_dup_lsh": QueryDef(q_embedding_near_dup_lsh,
                                       ORACLE_NEAR_DUP_LSH,
                                       "LSH-blocked near-dup (deterministic "
                                       "seeded hyperplanes as SQL literals; "
                                       "full value-hash oracle)"),
    "embedding_clusters": QueryDef(q_embedding_clusters,
                                   ORACLE_EMBEDDING_CLUSTERS,
                                   "semantic dedup: connected components "
                                   "over the embedding near-dup graph"),
    "embedding_clusters_lsh": QueryDef(q_embedding_clusters_lsh,
                                       ORACLE_EMBEDDING_CLUSTERS_LSH,
                                       "semantic dedup clusters over the "
                                       "LSH-blocked pair tier (the 100 TB "
                                       "composition; full value-hash "
                                       "oracle)"),
    "text_token_count": QueryDef(q_text_token_count, ORACLE_TOKEN_COUNT,
                                 "whitespace token counting"),
    "text_top_tokens": QueryDef(q_text_top_tokens, ORACLE_TOP_TOKENS,
                                "lateral explode -> term frequencies -> top-k"),
    "text_bpe_tokens": QueryDef(q_text_bpe_tokens, ORACLE_BPE_TOKENS,
                                "BPE-style regex pre-token counting"),
    "text_fingerprint": QueryDef(q_text_fingerprint, ORACLE_FINGERPRINT,
                                 "rolling-hash document fingerprint"),
    "text_lang_id": QueryDef(q_text_lang_id, ORACLE_LANG_ID,
                             "stopword-lexicon language ID"),
    "text_quality": QueryDef(q_text_quality, ORACLE_QUALITY,
                             "quality scoring (ratios)"),
    "multimodal_byte_features": QueryDef(q_multimodal_byte_features, ORACLE_MULTIMODAL,
                                         "binary payload + mapInPandas extraction"),
    "multimodal_decode_stats": QueryDef(q_multimodal_decode_stats,
                                        ORACLE_MULTIMODAL_DECODE,
                                        "REAL PNG encode+decode round-trip "
                                        "vs arithmetic oracle"),
    "multimodal_audio_stats": QueryDef(q_multimodal_audio_stats,
                                       ORACLE_MULTIMODAL_AUDIO,
                                       "REAL PCM WAV encode+decode "
                                       "round-trip vs arithmetic oracle"),
    "asof_join_forward": QueryDef(q_asof_join_forward, ORACLE_ASOF_FORWARD,
                                  "generic as-of join, direction=forward "
                                  "(first observation at-or-after, 1d tol)"),
    "asof_join_nearest": QueryDef(q_asof_join_nearest, ORACLE_ASOF_NEAREST,
                                  "as-of join, direction=nearest (exact "
                                  "integer-µs distance, deterministic ties)"),
    "range_join_ship_windows": QueryDef(q_range_join_ship_windows,
                                        ORACLE_RANGE_JOIN,
                                        "bucketed interval-containment join "
                                        "(hash join on week bucket, no BNLJ)"),
    "range_join_auto_bucket": QueryDef(q_range_join_auto_bucket,
                                       ORACLE_RANGE_JOIN,
                                       "range join with the data-driven "
                                       "bucket width (~p95 sampled interval "
                                       "length; round 12)"),
    "rollup_ohlc_daily": QueryDef(q_rollup_ohlc_daily, ORACLE_OHLC,
                                  "hypertable-style OHLC daily rollup "
                                  "(min_by/max_by, one shuffle)"),
    "agg_value_histogram": QueryDef(q_agg_value_histogram, ORACLE_HISTOGRAM,
                                    "fixed-bound value histogram"),
    "filter_value_outliers": QueryDef(q_filter_value_outliers, ORACLE_OUTLIERS,
                                      "per-group Tukey-fence outlier filter "
                                      "(exact quartiles + broadcast fences)"),
    "corpus_curation_auto": QueryDef(q_corpus_curation_auto, ORACLE_CURATION,
                                     "curation with the size-based near-dup "
                                     "tier switch (file metadata, no scan)"),
    "cluster_representatives": QueryDef(q_cluster_representatives,
                                        ORACLE_CLUSTER_REPS,
                                        "best-quality representative per "
                                        "near-dup cluster (tie: lowest id)"),
    "cluster_representatives_lsh": QueryDef(
        q_cluster_representatives_lsh, ORACLE_CLUSTER_REPS,
        "same representative selection over the MinHash-LSH pair tier "
        "(the 100 TB composition; shared oracle)"),
    "text_vocab_coverage": QueryDef(q_text_vocab_coverage,
                                    ORACLE_VOCAB_COVERAGE,
                                    "in-plan top-K vocabulary + per-doc "
                                    "OOV rate"),
    "text_unigram_logprob": QueryDef(q_text_unigram_logprob,
                                     ORACLE_UNIGRAM_LOGPROB,
                                     "unigram-LM mean log-prob per doc "
                                     "(rtol parity; ln ulp)"),
    "text_bigram_logprob": QueryDef(q_text_bigram_logprob,
                                    ORACLE_BIGRAM_LOGPROB,
                                    "conditional bigram-LM mean log-prob "
                                    "per doc (rtol parity; ln ulp)"),
    "text_unigram_logprob_counts": QueryDef(
        q_text_unigram_logprob_counts, ORACLE_UNIGRAM_LOGPROB_COUNTS,
        "hash-stable unigram-LM integer ingredients (per-doc corpus-"
        "frequency histogram — VERDICT r8 item 1)"),
    "text_bigram_logprob_counts": QueryDef(
        q_text_bigram_logprob_counts, ORACLE_BIGRAM_LOGPROB_COUNTS,
        "hash-stable bigram-LM integer ingredients (per-doc (pair,ctx)-"
        "frequency histogram — VERDICT r8 item 1)"),
    "join_market_share": QueryDef(q_join_market_share, ORACLE_MARKET_SHARE,
                                  "Q8 shape: conditional share over a "
                                  "7-way star (exact cents division)"),
    "join_nation_profit": QueryDef(q_join_nation_profit,
                                   ORACLE_NATION_PROFIT,
                                   "Q9 shape: profit by nation x year "
                                   "(retailprice cost proxy)"),
    "join_min_cost_supplier": QueryDef(q_join_min_cost_supplier,
                                       ORACLE_MIN_COST_SUPPLIER,
                                       "Q2 shape: per-part min-cost "
                                       "supplier via window rank"),
    "agg_important_parts": QueryDef(q_agg_important_parts,
                                    ORACLE_IMPORTANT_PARTS,
                                    "Q11 shape: share-of-total threshold "
                                    "in exact integers"),
    "agg_supplier_variety": QueryDef(q_agg_supplier_variety,
                                     ORACLE_SUPPLIER_VARIETY,
                                     "Q16 shape: NOT-IN blocklist + "
                                     "grouped distinct suppliers"),
    "agg_activity_profile": QueryDef(q_agg_activity_profile,
                                     ORACLE_ACTIVITY_PROFILE,
                                     "day-of-week x hour activity heat "
                                     "profile"),
    "training_pipeline_e2e": QueryDef(q_training_pipeline_e2e,
                                      ORACLE_TRAINING_PIPELINE,
                                      "flagship composition: curate -> "
                                      "decontaminate -> split -> chunk "
                                      "-> pack in one plan"),
    "chunk_and_pack": QueryDef(q_chunk_and_pack, ORACLE_CHUNK_PACK,
                               "composed chunker -> packer pipeline "
                               "(training-bin assignment)"),
    "streaming_enrich": QueryDef(q_streaming_enrich, ORACLE_STREAM_ENRICH,
                                 "drained stream-static enrichment vs "
                                 "batch join oracle"),
    "layout_zorder_roundtrip": QueryDef(q_layout_zorder_roundtrip,
                                        ORACLE_ZORDER_ROUNDTRIP,
                                        "Z-order clustered write, "
                                        "content-preserving round-trip"),
    "layout_hilbert_roundtrip": QueryDef(q_layout_hilbert_roundtrip,
                                         ORACLE_HILBERT_ROUNDTRIP,
                                         "Hilbert-clustered write (continuous "
                                         "curve, tighter file envelopes), "
                                         "content-preserving round-trip"),
    "layout_bucketed_join": QueryDef(q_layout_bucketed_join,
                                     ORACLE_BUCKETED_JOIN,
                                     "bucketed catalog tables: zero-Exchange "
                                     "agg + co-located merge join, "
                                     "content-preserving"),
    "layout_snapshot_time_travel": QueryDef(q_layout_snapshot_time_travel,
                                            ORACLE_SNAPSHOT_TIME_TRAVEL,
                                            "manifest snapshots: time-travel "
                                            "read of v1 + lossless append to "
                                            "v2, both vs the raw table"),
    "privacy_k_anonymity": QueryDef(q_privacy_k_anonymity,
                                    ORACLE_PRIVACY_K_ANONYMITY,
                                    "k-anonymity equivalence-class census "
                                    "over a quasi-identifier set"),
    "privacy_l_diversity": QueryDef(q_privacy_l_diversity,
                                    ORACLE_PRIVACY_L_DIVERSITY,
                                    "l-diversity census (distinct sensitive "
                                    "values per QI class)"),
    "privacy_suppression": QueryDef(q_privacy_suppression,
                                    ORACLE_PRIVACY_SUPPRESSION,
                                    "small-class suppression (semi-join "
                                    "enforcement) vs window/QUALIFY oracle"),
    "privacy_generalization": QueryDef(q_privacy_generalization,
                                       ORACLE_PRIVACY_GENERALIZATION,
                                       "generalization-ladder census: "
                                       "finest k-releasable QI level"),
    "privacy_t_closeness": QueryDef(q_privacy_t_closeness,
                                    ORACLE_PRIVACY_T_CLOSENESS,
                                    "t-closeness census (integer EMD of "
                                    "per-class sensitive distribution)"),
    "skyline_pareto": QueryDef(q_skyline_pareto, ORACLE_SKYLINE_PARETO,
                               "Pareto frontier via monotone running-max "
                               "decomposition vs NOT EXISTS oracle"),
    "skyline_pareto_bucketed": QueryDef(q_skyline_pareto_bucketed,
                                        ORACLE_SKYLINE_PARETO,
                                        "Pareto frontier, two-level bucketed "
                                        "tier (no unpartitioned window)"),
    "streaming_latest": QueryDef(q_streaming_latest, ORACLE_STREAM_LATEST,
                                 "drained streaming latest-per-key "
                                 "(max_by state) vs batch oracle"),
    "join_lateral_topn": QueryDef(q_join_lateral_topn, ORACLE_LATERAL_TOPN,
                                  "correlated LATERAL top-n per group"),
    "event_transitions": QueryDef(q_event_transitions, ORACLE_TRANSITIONS,
                                  "consecutive event-type transition "
                                  "matrix (Markov estimate)"),
    "attribution_last_touch": QueryDef(q_attribution_last_touch,
                                       ORACLE_ATTRIBUTION,
                                       "backward as-of with tolerance: "
                                       "last-touch attribution"),
    "rfm_segments": QueryDef(q_rfm_segments, ORACLE_RFM,
                             "RFM quartile segmentation (deterministic "
                             "NTILE tiebreaks)"),
    "chunk_documents": QueryDef(q_chunk_documents, ORACLE_CHUNKS,
                                "fixed-token chunking with overlap "
                                "(map-side, zero shuffle)"),
    "chunk_documents_udtf": QueryDef(q_chunk_documents_udtf, ORACLE_CHUNKS,
                                     "same chunking through the Spark 4 "
                                     "Python UDTF API (LATERAL, Arrow) — "
                                     "two strategies, one oracle"),
    "chunk_documents_cdc": QueryDef(q_chunk_documents_cdc, ORACLE_CHUNKS_CDC,
                                    "content-defined chunking (gear "
                                    "rolling hash): edit-stable chunk "
                                    "boundaries + integer-exact chunk "
                                    "fingerprints"),
    "text_top_tokens_by_lang": QueryDef(q_text_top_tokens_by_lang,
                                        ORACLE_TOP_TOKENS_BY_LANG,
                                        "grouped top-k tokens per lang"),
    "streaming_dedup": QueryDef(q_streaming_dedup, ORACLE_STREAM_DEDUP,
                                "watermarked streaming dedup of a "
                                "doubled stream vs batch DISTINCT"),
    "streaming_first_seen": QueryDef(q_streaming_first_seen,
                                     ORACLE_STREAM_FIRST_SEEN,
                                     "stateful first-seen-per-key kernel, "
                                     "min-event-id emission over key-"
                                     "partitioned files (exact oracle)"),
    "snapshot_diff": QueryDef(q_snapshot_diff, ORACLE_SNAPSHOT_DIFF,
                              "FULL OUTER snapshot reconciliation "
                              "(added/removed/changed/unchanged)"),
    "agg_daily_gapfill": QueryDef(q_agg_daily_gapfill,
                                  ORACLE_DAILY_GAPFILL,
                                  "calendar-complete daily rollup with "
                                  "zero-filled gaps"),
    "quality_report": QueryDef(q_quality_report, ORACLE_QUALITY_REPORT,
                               "declarative data-quality gate (null/"
                               "unique/range/FK, minimal passes)"),
    "scd2_intervals": QueryDef(q_scd2_intervals, ORACLE_SCD2,
                               "SCD Type 2 validity intervals (one "
                               "window; CDC lineage twin)"),
    "materialize_agg_incremental": QueryDef(q_materialize_agg_incremental,
                                            ORACLE_AGG_INCREMENTAL,
                                            "additive-aggregate IVM: two "
                                            "refreshes + retry == full "
                                            "recompute"),
    "fuzzy_part_names": QueryDef(q_fuzzy_part_names, ORACLE_FUZZY_NAMES,
                                 "edit-distance-1 typo join (trigram "
                                 "index + levenshtein verify)"),
    "fuzzy_part_names_bucketed": QueryDef(q_fuzzy_part_names_bucketed,
                                          ORACLE_FUZZY_NAMES,
                                          "same typo join via the lossless "
                                          "(gram, length-bucket) join key"),
    "streaming_pit_join": QueryDef(q_streaming_pit_join, ORACLE_PIT_TTL,
                                   "foreachBatch streaming PIT join "
                                   "drained to the batch oracle"),
    "hierarchy_chain": QueryDef(q_hierarchy_chain,
                                ORACLE_HIERARCHY_CHAIN,
                                "WITH RECURSIVE transitive closure "
                                "(depth + exact path sums)"),
    "window_rank_suite": QueryDef(q_window_rank_suite,
                                  ORACLE_WINDOW_RANK_SUITE,
                                  "six ranking/offset window functions, "
                                  "one shuffle one sort"),
    "agg_grouping_sets_custom": QueryDef(q_agg_grouping_sets_custom,
                                         ORACLE_GROUPING_SETS,
                                         "arbitrary GROUPING SETS + "
                                         "grouping_id"),
    "scan_variant_props": QueryDef(q_scan_variant_props,
                                   ORACLE_VARIANT_PROPS,
                                   "Spark-4 VARIANT semi-structured "
                                   "extraction"),
    "funnel_conversion": QueryDef(q_funnel_conversion, ORACLE_FUNNEL,
                                  "ordered view->click->purchase funnel "
                                  "(conditional MIN stages, no self-join)"),
    "retention_cohorts": QueryDef(q_retention_cohorts, ORACLE_RETENTION,
                                  "weekly cohort retention matrix"),
    "features_multi_horizon": QueryDef(q_features_multi_horizon,
                                       ORACLE_MULTI_HORIZON,
                                       "1h/24h/7d rolling features, one "
                                       "sort for all frames"),
    "eval_bootstrap_ci": QueryDef(q_eval_bootstrap_ci, ORACLE_BOOTSTRAP_CI,
                                  "deterministic Poisson-bootstrap CI "
                                  "(map-side resample, exact arithmetic)"),
    "features_winsorize": QueryDef(q_features_winsorize, ORACLE_WINSORIZE,
                                   "per-group winsorization to exact "
                                   "[p01, p99] (pure-selection clip)"),
    "normalize_zscore": QueryDef(q_normalize_zscore, ORACLE_ZSCORE,
                                 "per-group z-score (exact integer "
                                 "moment sums; hash-safe)"),
    "features_time_decay": QueryDef(q_features_time_decay, ORACLE_TIME_DECAY,
                                    "half-life-decayed recency features "
                                    "(exact shifted-integer weights)"),
    "drift_psi": QueryDef(q_drift_psi, ORACLE_PSI,
                          "two-period PSI drift per event_type "
                          "(rtol parity; ln ulp)"),
    "drift_psi_counts": QueryDef(q_drift_psi_counts, ORACLE_PSI_COUNTS,
                                 "hash-stable PSI integer ingredients "
                                 "(per-bin before/after counts + totals "
                                 "— VERDICT r8 item 1)"),
    "streaming_window_counts": QueryDef(q_streaming_window_counts,
                                        ORACLE_STREAM_WINDOW_COUNTS,
                                        "drained streaming tumbling-window "
                                        "counts vs batch oracle"),
    "streaming_interval_join": QueryDef(q_streaming_interval_join,
                                        ORACLE_STREAM_INTERVAL_JOIN,
                                        "drained stream-stream interval "
                                        "join vs batch oracle"),
    "streaming_interval_join_outer": QueryDef(
        q_streaming_interval_join_outer,
        ORACLE_STREAM_INTERVAL_JOIN_OUTER,
        "LEFT OUTER stream-stream interval join — unmatched rows emit "
        "with nulls at watermark (sentinel-advanced bounded drain)"),
    "streaming_interval_join_semi": QueryDef(
        q_streaming_interval_join_semi,
        ORACLE_STREAM_INTERVAL_JOIN_SEMI,
        "LEFT SEMI stream-stream interval join — EXISTS semantics, each "
        "matched left row emits exactly once (15th drained class)"),
    "streaming_interval_join_anti": QueryDef(
        q_streaming_interval_join_anti,
        ORACLE_STREAM_INTERVAL_JOIN_ANTI,
        "LEFT ANTI stream-stream interval join via outer + null-filter "
        "(orphan/timeout detection — 16th drained class)"),
    "streaming_join_then_window": QueryDef(
        q_streaming_join_then_window,
        ORACLE_STREAM_JOIN_THEN_WINDOW,
        "CHAINED stateful ops: stream-stream interval join feeding a "
        "windowed aggregation in one query (17th drained class)"),
    "streaming_session_window": QueryDef(q_streaming_session_window,
                                         ORACLE_SESSIONIZE,
                                         "NATIVE streaming session_window "
                                         "(built-in merging session state) "
                                         "— 4th formulation, same oracle"),
    "streaming_state_inspect": QueryDef(q_streaming_state_inspect,
                                        ORACLE_SESSIONIZE,
                                        "session table reconstructed from "
                                        "the CHECKPOINT STATE FILES via the "
                                        "statestore reader — state decoding "
                                        "pinned to the same oracle"),
    "text_bpe_encode": QueryDef(q_text_bpe_encode, ORACLE_BPE_ENCODE,
                                "train-then-APPLY token budgeting: per-doc "
                                "subword counts via the cached "
                                "word->segments broadcast join"),
    "text_bpe_train": QueryDef(q_text_bpe_train, ORACLE_BPE_TRAIN,
                               "REAL BPE training: top-8 merges learned "
                               "from corpus stats (greedy replace "
                               "semantics identical across engines)"),
    "text_pii_scan": QueryDef(q_text_pii_scan, ORACLE_TEXT_PII,
                              "PII scan + redaction (injected emails/"
                              "phones; map-only regex, no UDF)"),
    "training_shuffle": QueryDef(q_training_shuffle,
                                 ORACLE_TRAINING_SHUFFLE,
                                 "epoch-deterministic global training "
                                 "shuffle (per-epoch permutations)"),
    "dedup_exact_substr": QueryDef(q_dedup_exact_substr,
                                   ORACLE_EXACT_SUBSTR,
                                   "ExactSubstr (Lee et al. 2021) pair "
                                   "view — 40-char-gram inverted index; "
                                   "span tier pinned in pytest"),
    "dedup_exact_substr_spans": QueryDef(q_dedup_exact_substr_spans,
                                         ORACLE_EXACT_SUBSTR_SPANS,
                                         "ExactSubstr span view — merged "
                                         "duplicated-text intervals; no "
                                         "self-join, flood-linear (the "
                                         "100 TB tier)"),
    "dedup_exact_substr_cut": QueryDef(q_dedup_exact_substr_cut,
                                       ORACLE_EXACT_SUBSTR_CUT,
                                       "the ExactSubstr CUT: documents "
                                       "with duplicated spans deleted "
                                       "(Catalyst aggregate rebuild, "
                                       "no UDF)"),
    "corpus_curation_exact_substr": QueryDef(
        q_corpus_curation_exact_substr,
        ORACLE_CURATION_EXACT_SUBSTR,
        "RefinedWeb-style composition: exact dedup -> ExactSubstr cut "
        "(fully-duplicated docs dropped) -> quality floor -> near-dup "
        "prune, statistics on the CUT text"),
    "dedup_containment": QueryDef(q_dedup_containment,
                                  ORACLE_DEDUP_CONTAINMENT,
                                  "asymmetric n-gram containment pairs "
                                  "(quote/subset detection)"),
    "dedup_containment_prefix": QueryDef(q_dedup_containment_prefix,
                                         ORACLE_DEDUP_CONTAINMENT,
                                         "containment via exact prefix "
                                         "filtering (PPJoin tier, shares "
                                         "the brute twin's oracle)"),
    "scan_binary_files": QueryDef(q_scan_binary_files, ORACLE_SCAN_BINARY,
                                  "binaryFile whole-file source, "
                                  "content-verified by sha256/length"),
    "multimodal_resize_stats": QueryDef(q_multimodal_resize_stats,
                                        ORACLE_MULTIMODAL_RESIZE,
                                        "PNG decode -> NN resize -> "
                                        "re-encode -> decode chain vs "
                                        "arithmetic oracle"),
    "event_interarrival": QueryDef(q_event_interarrival,
                                   ORACLE_INTERARRIVAL,
                                   "per-user inter-arrival gap stats "
                                   "(lag + exact percentiles, one "
                                   "keyed shuffle)"),
    "market_basket_rules": QueryDef(q_market_basket_rules,
                                    ORACLE_BASKET_RULES,
                                    "association rules with exact "
                                    "support/confidence/lift over "
                                    "bounded-clique basket pairs"),
    "streaming_cdc_merge": QueryDef(q_streaming_cdc_merge,
                                    ORACLE_MERGE_CDC,
                                    "foreachBatch MERGE loop over "
                                    "versioned keyed snapshots vs the "
                                    "batch MERGE oracle"),
    "join_incremental_refresh": QueryDef(q_join_incremental_refresh,
                                         ORACLE_JOIN_INCREMENTAL,
                                         "join-view IVM: three-term delta "
                                         "expansion == full-join recompute"),
    "streaming_snapshot_sink": QueryDef(q_streaming_snapshot_sink,
                                        ORACLE_STREAM_SNAPSHOT_SINK,
                                        "exactly-once versioned snapshot "
                                        "sink: one manifest commit per "
                                        "micro-batch, idempotent on "
                                        "batchId"),
    "golden_record": QueryDef(q_golden_record, ORACLE_GOLDEN_RECORD,
                              "column-level survivorship merge: each "
                              "attr keeps its own latest non-null"),
    "scan_merge_schema": QueryDef(q_scan_merge_schema, ORACLE_MERGE_SCHEMA,
                                  "mergeSchema read across schema "
                                  "generations (added column, no "
                                  "rewrite)"),
    "layout_compaction_roundtrip": QueryDef(
        q_layout_compaction_roundtrip, ORACLE_COMPACTION_ROUNDTRIP,
        "small-file compaction with atomic swap, content-preserving"),
    "table_checksum": QueryDef(q_table_checksum, ORACLE_TABLE_CHECKSUM,
                               "order-independent content checksum "
                               "(sum+xor of portable row hashes)"),
    "scan_csv_quarantine": QueryDef(q_scan_csv_quarantine,
                                    ORACLE_CSV_QUARANTINE,
                                    "quarantine channel on the CSV file "
                                    "reader (type-failure routing; empty "
                                    "!= corrupt)"),
    "multimodal_frame_sample": QueryDef(q_multimodal_frame_sample,
                                        ORACLE_FRAME_SAMPLE,
                                        "REAL multi-frame sampling: GIF "
                                        "LZW decode in-batch, every-nth "
                                        "frame vs arithmetic oracle"),
    "graph_pagerank": QueryDef(q_graph_pagerank, ORACLE_PAGERANK,
                               "fixed-point integer PageRank over the "
                               "co-purchase graph (3 exact rounds)"),
    "graph_triangles": QueryDef(q_graph_triangles, ORACLE_TRIANGLES,
                                "per-node triangle counts, degree-ordered "
                                "orientation (O(sqrt(E)) wedge bound)"),
    "graph_bfs_levels": QueryDef(q_graph_bfs_levels, ORACLE_BFS_LEVELS,
                                 "multi-hop reachability rings: frontier "
                                 "BFS levels vs recursive-CTE oracle"),
    "graph_sssp_hops": QueryDef(q_graph_sssp_hops, ORACLE_SSSP_HOPS,
                                "bounded-hop weighted shortest paths: "
                                "frontier Bellman-Ford (min-plus) vs "
                                "chained-rounds oracle"),
    "interval_coverage": QueryDef(q_interval_coverage,
                                  ORACLE_INTERVAL_COVERAGE,
                                  "gaps-and-islands interval union per "
                                  "supplier: islands, absorbed intervals, "
                                  "covered days (one window shuffle)"),
    "trend_cusum_changepoint": QueryDef(q_trend_cusum_changepoint,
                                        ORACLE_CUSUM_CHANGEPOINT,
                                        "integer-exact CUSUM changepoint "
                                        "per user: argmax |n*S_k - k*S_n| "
                                        "on one window shuffle"),
    "layout_snapshot_changes": QueryDef(q_layout_snapshot_changes,
                                        ORACLE_SNAPSHOT_CHANGES,
                                        "snapshot change data feed: "
                                        "segment-diff incremental read "
                                        "tagged by introducing commit"),
    "layout_snapshot_merge": QueryDef(q_layout_snapshot_merge,
                                      ORACLE_SNAPSHOT_MERGE,
                                      "MERGE INTO on the snapshot format: "
                                      "keyed upserts + deletes as a "
                                      "copy-on-write overwrite commit"),
    "layout_data_skipping": QueryDef(q_layout_data_skipping,
                                     ORACLE_DATA_SKIPPING,
                                     "file-level zone-map skipping: "
                                     "persisted min/max stats prune the "
                                     "scan to overlapping files only"),
    "layout_snapshot_consume": QueryDef(q_layout_snapshot_consume,
                                        ORACLE_SNAPSHOT_CONSUME,
                                        "exactly-once CDF consumer: "
                                        "cursor checkpoint, ack-advance, "
                                        "empty re-consume under the hash"),
    "layout_snapshot_compact_consume": QueryDef(
        q_layout_snapshot_compact_consume,
        ORACLE_SNAPSHOT_COMPACT_CONSUME,
        "CDF consumption ACROSS a certified compaction: fresh, "
        "lagging-pre-compaction, and fully-acked consumer positions "
        "under one hash (round 12)"),
    "streaming_snapshot_sink_stats": QueryDef(
        q_streaming_snapshot_sink_stats,
        ORACLE_STREAM_SNAPSHOT_SINK_STATS,
        "streaming snapshot sink with per-batch ts stats: stat-pruned "
        "windowed read + metadata-only COUNT(*) under one hash (round 12)"),
    "layout_snapshot_zonemap": QueryDef(
        q_layout_snapshot_zonemap,
        ORACLE_SNAPSHOT_ZONEMAP,
        "manifest zone maps: per-segment [min,max] stats prune "
        "time-windowed snapshot reads at the metadata level (round 12)"),
    "layout_snapshot_format_write": QueryDef(
        q_layout_snapshot_format_write,
        ORACLE_SNAPSHOT_FORMAT_WRITE,
        "snapshot write path through the Spark DataSource API: staged "
        "Arrow batches published via the shared CAS commit; "
        "metadata-only COUNT(*) from footer-summed stats (round 12b)"),
    "streaming_snapshot_source": QueryDef(
        q_streaming_snapshot_source,
        ORACLE_STREAMING_SNAPSHOT_SOURCE,
        "snapshot table as a Structured Streaming SOURCE (Spark 4 "
        "Python DataSource API): version offsets, manifest-planned "
        "micro-batches, Arrow-native reads, _commit_version tagging "
        "(round 12b)"),
    "layout_snapshot_cluster_compact": QueryDef(
        q_layout_snapshot_cluster_compact,
        ORACLE_SNAPSHOT_CLUSTER_COMPACT,
        "range-clustered compaction: the sort-order rewrite that makes "
        "zone maps prune AFTER compaction instead of dying with it; "
        "certificate row-identity pinned via time travel (round 12b)"),
    "layout_snapshot_bloom": QueryDef(
        q_layout_snapshot_bloom,
        ORACLE_SNAPSHOT_BLOOM,
        "manifest bloom filters: point lookups on an interleaved key "
        "column prune segments zone maps never could; absent keys are "
        "near-metadata answers (round 12b)"),
    "layout_snapshot_partition_overwrite": QueryDef(
        q_layout_snapshot_partition_overwrite,
        ORACLE_SNAPSHOT_PARTITION_OVERWRITE,
        "dynamic partition overwrite: metadata-level partition swap + "
        "time travel + partition-pruned read (round 12)"),
    "layout_snapshot_pipeline": QueryDef(q_layout_snapshot_pipeline,
                                         ORACLE_SNAPSHOT_PIPELINE,
                                         "exactly-once table-to-table "
                                         "pipeline: CDF consume -> agg -> "
                                         "version-keyed downstream commit "
                                         "-> ack; no-op cycle hashed"),
    "layout_snapshot_mor_delete": QueryDef(
        q_layout_snapshot_mor_delete, ORACLE_SNAPSHOT_MOR_DELETE,
        "merge-on-read key tombstones: O(deletes) suppression commit, "
        "appends carry tombstones, compaction materializes"),
    "trend_mann_kendall": QueryDef(
        q_trend_mann_kendall,
        ORACLE_MANN_KENDALL,
        "Mann-Kendall S + concordant/discordant/tied pair counts over "
        "the daily series — calendar-bounded pair join (round 12)"),
    "trend_ols_counts": QueryDef(q_trend_ols_counts, ORACLE_OLS_COUNTS,
                                 "OLS trend sufficient statistics per "
                                 "user, all BIGINT (slope reconstructed "
                                 "in the test net)"),
    "agg_mode_exact": QueryDef(q_agg_mode_exact, ORACLE_MODE_EXACT,
                               "exact per-key mode with deterministic "
                               "ties (count desc, value asc) riding one "
                               "window shuffle"),
    "agg_weighted_median": QueryDef(q_agg_weighted_median,
                                    ORACLE_WEIGHTED_MEDIAN,
                                    "weighted order statistic by key: "
                                    "selection-only integer cumweight "
                                    "median (2*cum >= W, no division)"),
    "streaming_topk": QueryDef(q_streaming_topk, ORACLE_STREAM_TOPK,
                               "complete-mode streaming top-k leaderboard "
                               "(sort+limit inside the streaming plan)"),
    "graph_pagerank_incremental": QueryDef(
        q_graph_pagerank_incremental, ORACLE_PAGERANK,
        "delta-edge PageRank refresh from materialized per-iteration "
        "state — bit-identical to the full-graph oracle"),
    "corpus_boilerplate_removal": QueryDef(
        q_corpus_boilerplate_removal, ORACLE_BOILERPLATE,
        "cross-document repeated-segment removal + ordered text "
        "reconstruction (broadcast hot-set anti-join)"),
    "graph_kcore": QueryDef(
        q_graph_kcore, ORACLE_KCORE,
        "fixed-round k-core peel (k=3, 4 unrolled rounds), "
        "surviving in-core degrees"),
    "resample_interpolate": QueryDef(
        q_resample_interpolate, ORACLE_RESAMPLE_INTERP,
        "grid resampling with exact-integer linear interpolation "
        "(vs two opposite-direction DuckDB ASOF joins)"),
    "drift_ks": QueryDef(
        q_drift_ks, ORACLE_DRIFT_KS,
        "exact two-sample KS drift statistic per event_type "
        "(integer cross-multiplied CDFs, bin-free)"),
    "training_negative_pairs": QueryDef(
        q_training_negative_pairs, ORACLE_NEGATIVE_PAIRS,
        "deterministic hash-drawn contrastive negatives, "
        "no cross join / no RNG, exact pairing value-hashed"),
    "materialize_moments_incremental": QueryDef(
        q_materialize_moments_incremental, ORACLE_MOMENTS_INCREMENTAL,
        "algebraic IVM: mean+variance via mergeable sufficient stats "
        "(ledgered exactly-once refreshes; retry no-op pinned)"),
    "features_hashing_trick": QueryDef(q_features_hashing_trick,
                                       ORACLE_HASHING_TRICK,
                                       "hashing-trick categorical encoding "
                                       "(portable polynomial hash; no "
                                       "fitted vocabulary)"),
    "features_time_weighted_avg": QueryDef(q_features_time_weighted_avg,
                                           ORACLE_TIME_WEIGHTED_AVG,
                                           "time-weighted average spend "
                                           "(SCD2 lead intervals; integer "
                                           "cents x ms weights)"),
    "trend_theil_sen": QueryDef(q_trend_theil_sen, ORACLE_THEIL_SEN,
                                "Theil-Sen robust per-user trend "
                                "(median of pairwise slopes; keyed "
                                "self-join, documented O(k^2) bound)"),
    "features_target_encoding": QueryDef(q_features_target_encoding,
                                         ORACLE_TARGET_ENCODING,
                                         "leave-one-out + smoothed target "
                                         "encoding (broadcast category "
                                         "stats; map-side encode)"),
    "erasure_deletion_vectors": QueryDef(q_erasure_deletion_vectors,
                                         ORACLE_ERASURE_DV,
                                         "merge-on-read erasure via a "
                                         "(file,row_index) deletion-vector "
                                         "sidecar — zero rewrite, residual "
                                         "pinned 0"),
    "compliance_erasure_audit": QueryDef(
        q_compliance_erasure_audit, ORACLE_ERASURE_AUDIT,
        "right-to-be-forgotten rewrite + read-back audit "
        "(oracle pins residual rows to zero)"),
    "multimodal_image_dedup": QueryDef(
        q_multimodal_image_dedup, ORACLE_IMAGE_DEDUP,
        "image dedup via real decoded-pixel average-hash "
        "(integer luminance bits; arithmetic oracle)"),
    "features_last_k_events": QueryDef(
        q_features_last_k_events, ORACLE_LAST_K,
        "sequence-model context features: previous-K event types "
        "in exact order + spend, one bounded-frame window"),
    "graph_ppr_recommend": QueryDef(
        q_graph_ppr_recommend, ORACLE_PPR,
        "personalized-PageRank recommendations from a promoted "
        "seed set (integer-exact seeded teleport)"),
    "mix_temperature_weights": QueryDef(
        q_mix_temperature_weights, ORACLE_MIX_TEMPERATURE,
        "temperature (alpha=0.5) mixture budgets per language "
        "(integer isqrt weights, exact floor-div split)"),
    "agg_equidepth_bins": QueryDef(
        q_agg_equidepth_bins, ORACLE_EQUIDEPTH,
        "equi-depth quantile histogram per event_type "
        "(ntile over a total order; fixed-bound twin exists)"),
    "write_audit_publish": QueryDef(
        q_write_audit_publish, ORACLE_WAP,
        "Write-Audit-Publish: staged bytes audited (count + checksum) "
        "before the atomic publish; live path read back"),
    "streaming_router": QueryDef(
        q_streaming_router, ORACLE_STREAM_ROUTER,
        "one-pass dual-sink stream routing (idempotent per-batch "
        "dirs; 11th streaming class)"),
    "scan_python_source": QueryDef(
        q_scan_python_source, ORACLE_PYTHON_SOURCE,
        "custom Python Data Source (Spark 4 API): partitioned "
        "generator table vs pure-arithmetic oracle"),
    "streaming_python_source": QueryDef(
        q_streaming_python_source, ORACLE_PYTHON_STREAM,
        "custom STREAMING Python source drained via restart-resume "
        "(offset replay + sink commit log; 12th streaming class)"),
    "sink_python_roundtrip": QueryDef(
        q_sink_python_roundtrip, ORACLE_PYSINK,
        "custom Python SINK (two-phase commit: staged files + atomic "
        "rename + manifest) roundtrip with in-plan audit"),
    "graph_pagerank_weighted": QueryDef(
        q_graph_pagerank_weighted, ORACLE_PAGERANK_WEIGHTED,
        "weighted PageRank: rank mass follows co-purchase VOLUME "
        "(integer-exact weighted contributions)"),
    "multimodal_audio_silence": QueryDef(
        q_multimodal_audio_silence, ORACLE_AUDIO_SILENCE,
        "silence-segment detection (trim/VAD primitive) through the "
        "real WAV path; all-integer windowed analysis"),
    "scan_json_quarantine": QueryDef(q_scan_json_quarantine,
                                     ORACLE_JSON_QUARANTINE,
                                     "bad-record quarantine channel on "
                                     "JSON ingestion (routed, counted, "
                                     "traceable — never fatal)"),
    "feature_engineering_e2e": QueryDef(q_feature_engineering_e2e,
                                        ORACLE_FEATURE_E2E,
                                        "flagship serving-side "
                                        "composition: latest + 7d + "
                                        "decayed + z-score + split in "
                                        "one plan"),
}

# --------------------------------------------------------------------------
# Driver-facing registry (what __spark_entry__ exports).
#
# The driver gate records at most 50 CORRECTNESS rows per round, so
# DRIVER_QUERIES exports EXACTLY 50 entries; everything else stays in
# QUERIES, pinned by the local replica of the same DuckDB compare
# (tests/test_oracle_parity.py, scripts/check_oracle.py). Membership
# ROTATES each round so every query accumulates driver hashes over time.
# The gate has been 100% value-hashable since round 9 (VERDICT r8 item
# 1 — the driver records err:"no_oracle", i.e. no verification at all,
# for oracle-withheld slots). The round-12 slots (VERDICT r11 item 1):
#   (a) the 11 queued r11 registrations (_QUEUED_FOR_R12_GATE: weighted
#       SSSP, interval coverage, CUSUM changepoint, snapshot CDF /
#       consumer / MERGE / MOR-delete / pipeline, zone-map data
#       skipping, OLS counts, exact mode) — each carried 3-scale local
#       pins and a property/unit net since the day it registered; this
#       rotation takes their first driver hash, lifting cumulative
#       own-driver-hash coverage to 249/255 (only the 4 ln-rtol +
#       2 approximate sketches stay documented-local, permanently);
#   (b) 39 refresh slots from the stalest pool: the 43 r7-last-hashed
#       rows minus 4 left for the r13 pool, each of which keeps a
#       same-family sibling in this gate (see _DRIVER_GATE_R12 inline
#       notes).
# Full round-by-round rotation history: NOTES.md "Gate rotation ledger";
# the per-round gate map is the generated index in COVERAGE.md.
#
# Standing non-rotating exclusions:
#   rows-only sketches, parked with exact-twin pytest pins:
#     agg_approx_event_stats, window_sliding_distinct_hll
#   rtol ln() float queries (local rtol pin; hashable *_counts twins
#     take the gate rows): text_bm25, text_unigram_logprob,
#     text_bigram_logprob, drift_psi
#   oracle pinned transitively by a gated sibling's SQL: dedup_simhash,
#     text_token_count
# --------------------------------------------------------------------------

_DRIVER_GATE_R12 = (
    # (a) the 11 queued r11 registrations (_QUEUED_FOR_R12_GATE:
    # first in line by contract — each carried 3-scale local pins and
    # a property/unit net since the day it registered)
    "agg_mode_exact",
    "graph_sssp_hops",
    "interval_coverage",
    "layout_data_skipping",
    "layout_snapshot_changes",
    "layout_snapshot_consume",
    "layout_snapshot_merge",
    "layout_snapshot_mor_delete",
    "layout_snapshot_pipeline",
    "trend_cusum_changepoint",
    "trend_ols_counts",
    # (b) refresh: 39 of the 43 r7-last-hashed rows (the entire
    # stalest pool minus 4 left for r13, each of which keeps a
    # same-family sibling in this gate: dedup_jaccard_prefix ->
    # dedup_containment_prefix; features_time_weighted_avg -> three
    # other features_*; graph_pagerank_weighted ->
    # graph_pagerank_incremental/_ppr/_kcore;
    # streaming_interval_join_outer -> five other streaming_*)
    "agg_equidepth_bins",
    "chunk_documents_udtf",
    "cluster_representatives_lsh",
    "compliance_erasure_audit",
    "corpus_curation_auto",
    "dedup_clusters_star",
    "dedup_containment_prefix",
    "embed_linear_probe",
    "erasure_deletion_vectors",
    "eval_lang_confusion",
    "eval_pr_curve",
    "features_hashing_trick",
    "features_last_k_events",
    "features_target_encoding",
    "golden_record",
    "graph_kcore",
    "graph_pagerank_incremental",
    "graph_ppr_recommend",
    "layout_compaction_roundtrip",
    "market_basket_rules",
    "mix_temperature_weights",
    "multimodal_audio_silence",
    "multimodal_image_dedup",
    "scan_csv_quarantine",
    "scan_json_quarantine",
    "scan_python_source",
    "sink_python_roundtrip",
    "streaming_cdc_merge",
    "streaming_python_source",
    "streaming_router",
    "streaming_session_window",
    "streaming_state_inspect",
    "table_checksum",
    "text_bpe_encode",
    "text_pii_scan",
    "training_negative_pairs",
    "training_shuffle",
    "trend_theil_sen",
    "write_audit_publish",
)

DRIVER_QUERIES: dict[str, QueryDef] = {
    _name: QUERIES[_name] for _name in _DRIVER_GATE_R12
}

assert len(DRIVER_QUERIES) == 50, (
    f"driver gate records at most 50 rows; got {len(DRIVER_QUERIES)} — "
    "rebalance _DRIVER_GATE_R12 when rotating"
)
