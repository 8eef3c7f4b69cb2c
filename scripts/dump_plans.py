#!/usr/bin/env python
"""Generate PLANS.md: the physical plans of the flagship queries with a
scale commentary per query — how each plan behaves at 100 TB / 1000
executors, and which plan properties (pushdown, pruning, broadcast,
shuffle count) make that work. Run from the repo root:

    python scripts/dump_plans.py          # rewrites PLANS.md

The plan text comes from ``df.explain("formatted")`` against sf0.01 so
the file stays honest — regenerate after any operator change.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PLAN_LINE_CAP = 400
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_PLANS", "/root/testdata/sf0.01")

# (query name, scale commentary)
SHOWCASE: list[tuple[str, str]] = [
    (
        "pull_all_time_range",
        "The timestamp range predicate is rewritten into raw-nanos space and\n"
        "lands in `PushedFilters`, so parquet row-group statistics prune I/O\n"
        "before a byte of data moves; `ReadSchema` carries only the projected\n"
        "columns. At 100 TB this is the difference between scanning a day and\n"
        "scanning a year. No shuffle at all — the scan is the whole plan.",
    ),
    (
        "pull_latest_per_key",
        "One shuffle, keyed by the entity key, feeding a single window\n"
        "(`row_number` desc) — the group-max self-join the reference emits\n"
        "(J2, `data_engine_offline_store.py:446-465`) would shuffle the same\n"
        "data twice and re-scan the source. Partial aggregation does not\n"
        "apply to windows, but the range filter is still pushed to the scan,\n"
        "bounding state to the window of interest.",
    ),
    (
        "pit_join_ttl",
        "The flagship as-of join (reference `:601-779`). The spine min/max\n"
        "range is computed first and injected as a TTL-bounded filter on the\n"
        "feature scan (`PushedFilters`), so the feature side is pre-shrunk\n"
        "before any join. The spine side is broadcast\n"
        "(`BroadcastHashJoin`/`BroadcastExchange` in the plan) — the typical\n"
        "feature-store case is spine << features, so the big side never\n"
        "shuffles; the window that picks the latest in-range row per spine\n"
        "key is the only wide stage. For spine ~ features scale, the\n"
        "`union_window` strategy replaces the range join with an equi-shuffle\n"
        "union + last-value window (see pit_join_union_window).",
    ),
    (
        "pit_join_union_window",
        "The big-spine strategy: tag + union both sides by key, sort within\n"
        "key partitions, carry feature values forward with\n"
        "`last(ignorenulls)` over a running window. The as-of MATCHING has\n"
        "no join node — it is one equi-shuffle on the key, which AQE can\n"
        "re-balance on skew; the only join left in the plan is the final\n"
        "left assembly of matched values back onto the spine. This is the\n"
        "shape that survives a spine the same size as the feature table.",
    ),
    (
        "pit_join_partitioned",
        "The PIT join over a date-partitioned feature layout:\n"
        "`FeatureViewSpec.date_partition_column` injects string partition\n"
        "predicates beside the TTL prefilter (reference `:665-674`), so the\n"
        "feature scan shows `PartitionFilters` — whole day DIRECTORIES are\n"
        "skipped before row-group statistics are even consulted. On a\n"
        "date-partitioned 100 TB feature table this bounds the scan to\n"
        "ttl + spine-range days regardless of table history depth.",
    ),
    (
        "asof_join_nearest",
        "The generic as-of join (direction=nearest, 1-day tolerance): the\n"
        "feature side is prefiltered to the reachable `[min-tol, max+tol]`\n"
        "window (`PushedFilters`), the deduped spine is broadcast, and one\n"
        "rn=1 window ordered by exact integer-microsecond distance picks the\n"
        "winner. Identical physical skeleton to the backward PIT join — the\n"
        "direction only flips the window ordering and the range predicate.",
    ),
    (
        "range_join_ship_windows",
        "The bucketed range join: a raw `BETWEEN start AND end` join has no\n"
        "equi-key, so Spark would plan BroadcastNestedLoopJoin —\n"
        "O(points x intervals) comparisons. Quantizing the date axis into\n"
        "7-day buckets and exploding each interval into its overlapped\n"
        "buckets turns it into a `BroadcastHashJoin` on the bucket id with\n"
        "the exact containment check as the join residual — the plan shows\n"
        "a hash join and NO nested-loop node, and cost scales with\n"
        "points x intervals-per-bucket-width, not the full product.",
    ),
    (
        "corpus_curation_lsh",
        "The curation pipeline with the scale-tier near-dup stage: exact\n"
        "dedup (one hash agg) -> quality floor (projection) -> MinHash-LSH\n"
        "candidate generation (bucket equi-join on int64 band keys) ->\n"
        "exact verify on candidates only -> left-anti assembly. Nothing in\n"
        "the plan grows quadratically with corpus size; the exact\n"
        "inverted-index tier (corpus_curation) is kept as the small-corpus\n"
        "default and measured 4x slower at 10x scale (NOTES.md sf1 smoke).",
    ),
    (
        "join_top_orders",
        "TPC-H Q3 shape. The two fact tables shuffle on the join key once;\n"
        "the filtered customer dimension broadcasts by SIZE (no hint since\n"
        "round 13 — customer scales with SF, so the plan must degrade to a\n"
        "shuffle join at 100 TB instead of a forced executor-sized build).\n"
        "`TakeOrderedAndProject` caps the result driver-side — no global\n"
        "sort materializes.",
    ),
    (
        "agg_rollup_region_revenue",
        "All three dimensions broadcast (`BroadcastHashJoin` x3, zero\n"
        "dimension shuffles); `Expand` implements the rollup grouping sets\n"
        "map-side so partial aggregation still applies before the single\n"
        "shuffle on the grouping keys.",
    ),
    (
        "join_nation_trade_flow",
        "TPC-H Q7 shape: two independent dimension branches\n"
        "(supplier->nation, customer->nation) each collapse to a broadcast\n"
        "before touching the facts, so the only shuffle in the plan is the\n"
        "lineitem-orders equi-join and the final aggregate. The branch\n"
        "broadcasts are size-based, not hinted (round 13): supplier and\n"
        "customer scale with SF, so at 100 TB the planner/AQE degrades\n"
        "these to shuffle joins instead of forcing executor-sized builds.",
    ),
    (
        "dedup_minhash_lsh",
        "The 100 TB dedup path: one Arrow-batched UDF computes per-doc\n"
        "minhash band keys (int64), the bucket self-join is a pure equi-join\n"
        "on (band, signature) — high-cardinality, near-uniform keys, so the\n"
        "shuffle balances — and only verified candidates (a tiny fraction)\n"
        "reach the exact-Jaccard UDF. Nothing in the plan is quadratic in\n"
        "the corpus.",
    ),
    (
        "dedup_exact_substr",
        "ExactSubstr (Lee et al. 2021) pair view: character 40-grams are\n"
        "generated and xxhash64'd MAP-SIDE (whole-stage codegen, no UDF), so\n"
        "the self-join shuffles 8-byte longs keyed by the gram — pairs only\n"
        "meet on genuinely shared text. The join output is sum(c^2) over\n"
        "per-gram doc counts: fine while grams are near-unique (max df 13 on\n"
        "the tagged 10x corpus), quadratic under boilerplate floods — which\n"
        "is why the SPAN tier (operators/exact_substr.duplicated_spans, the\n"
        "production cut list) replaces the self-join with a per-gram\n"
        "min!=max aggregate and stays LINEAR in the flood (measured:\n"
        "NOTES 'ExactSubstr flood 10x').",
    ),
    (
        "dedup_exact_substr_cut",
        "The ExactSubstr production deliverable end to end: the span tier's\n"
        "per-gram min!=max aggregate (no self-join anywhere — two shuffles:\n"
        "by gram hash, by doc), a per-doc gaps-and-islands window to merge\n"
        "covered offsets, one groupBy collecting each doc's sorted span\n"
        "array, and a LEFT join back to the documents where a Catalyst\n"
        "`aggregate` rebuilds the text (no UDF, whole-stage codegen). Every\n"
        "stage is linear in corpus size; the span array per doc is bounded\n"
        "by its duplicated-region count, not its length.",
    ),
    (
        "knn_cosine_topk",
        "Exact ANN baseline: the query set is broadcast\n"
        "(`BroadcastNestedLoopJoin` over the inequality predicate), the\n"
        "corpus never shuffles for the scoring pass, and the only wide stage\n"
        "is the per-query top-k window keyed by query id. Corpus scale-out\n"
        "is linear; for large query sets the IVF variant (knn_ivf) replaces\n"
        "the product with a cell equi-join.",
    ),
    (
        "join_waiting_suppliers",
        "TPC-H Q21 shape with the double-correlated EXISTS / NOT EXISTS\n"
        "pair decorrelated away: ONE per-(order,supplier) aggregate, then\n"
        "both correlated probes become window aggregates over the SAME\n"
        "per-order partitioning — lineitem is scanned and aggregated\n"
        "exactly once, and the plan has no self-join at all. (The\n"
        "groupBy-and-rejoin formulation was measured planning the pair\n"
        "aggregate twice into a sort-merge self-join — two full scan\n"
        "branches; the window form replaces both with one Exchange.) The\n"
        "DuckDB oracle runs the literal correlated formulation, proving\n"
        "the rewrite semantics-preserving at the gate.",
    ),
    (
        "sample_stratified",
        "Deterministic stratified sampling is a PURE FILTER: the\n"
        "knuth-bucket predicate evaluates inside the scan stage (zero\n"
        "Exchange nodes — plan-tested), so sampling composes with any\n"
        "downstream partitioning for free and never becomes a scale\n"
        "bottleneck. Contrast take_per_group (exact counts), which pays\n"
        "one window shuffle on the group key.",
    ),
    (
        "funnel_conversion",
        "Ordered-funnel without self-joins on the fact table: each stage\n"
        "is a conditional-MIN hash aggregate keyed on user_id, joined to\n"
        "the previous stage's (user, time) — three map-side-combinable\n"
        "aggregates over one scan lineage instead of the O(stages)\n"
        "fact-to-fact join a naive formulation pays. At 100 TB the wide\n"
        "rows never leave the scan stage; only (user_id, min_ts) pairs\n"
        "shuffle.",
    ),
    (
        "features_multi_horizon",
        "Three trailing RANGE frames (1h/24h/7d) declared over the SAME\n"
        "partition+order key collapse into ONE Window node: one shuffle on\n"
        "user_id, one sort, six features. The plan proves the frames\n"
        "share the sort — the classic feature-backfill job that naive\n"
        "per-horizon passes would pay 3x for. Spend aggregates ride\n"
        "integer cents, so partial aggregation is exact at any\n"
        "parallelism.",
    ),
    (
        "join_market_share",
        "TPC-H Q8 topology: every dimension side (part filter, customer\n"
        "nation->region branch, supplier nation branch) broadcasts, so\n"
        "lineitem — the only 100 TB-scale table — crosses the wire once,\n"
        "into the final year aggregate. The share division happens on two\n"
        "exact integer cent sums, so the result is bit-stable regardless\n"
        "of partial-aggregation order.",
    ),
    (
        "multimodal_decode_stats",
        "The real-codec pipeline is two Arrow-batched Python stages\n"
        "(synthesize+encode, then decode+extract) with NO shuffle — media\n"
        "feature extraction is embarrassingly parallel and the plan shows\n"
        "it: scan -> ArrowEvalPython -> mapInPandas, partition-preserving\n"
        "end to end. At 100 TB the only levers are batch size (payload\n"
        "memory) and input file splits; no stage concentrates data.",
    ),
    (
        "knn_pq",
        "Product quantization is the third ANN tier: the ADC candidate\n"
        "scan reads 8 CODES per vector (64x less I/O than the float\n"
        "corpus), the lookup-table probe is a broadcast against the code\n"
        "table, and only the top-128 candidates rejoin their full vectors\n"
        "for the exact fold re-rank — so emitted cosines stay bit-equal\n"
        "to brute force while the scan cost collapses. Deterministic seed\n"
        "codebooks make the whole approximate pipeline SQL-reproducible\n"
        "(full value-hash oracle).",
    ),
    (
        "quality_report",
        "Every NOT-NULL check shares ONE scan-aggregate (stack unpivots\n"
        "the per-column counts), uniqueness is one hash agg on the key,\n"
        "and the FK check is one anti join against the broadcast dim —\n"
        "the whole publish gate costs ~two passes over the fact table\n"
        "regardless of how many constraints are declared. A naive\n"
        "per-check runner would scan once per constraint.",
    ),
    (
        "snapshot_diff",
        "Reconciliation as one FULL OUTER join of two per-side hash\n"
        "aggregates: each side shuffles once on the key, the classifier\n"
        "is a pure projection, and exact cent deltas come from integer\n"
        "sums — no row-level diffing of the fact tables themselves. At\n"
        "100 TB the aggregates shrink each side to key cardinality before\n"
        "anything joins.",
    ),
    (
        "text_similarity_topk",
        "Asymmetric search, not a pair join: the query side's shingles\n"
        "broadcast (`BroadcastExchange` on the small side), the corpus\n"
        "inverted index is probed map-side and never self-joins — cost is\n"
        "linear in corpus shingles no matter how duplicate-heavy the\n"
        "corpus is (the c^2 blowup the symmetric pair generators guard\n"
        "against cannot occur here). Set sizes come from a separate\n"
        "map-only branch joined to the broadcast candidate aggregate;\n"
        "`WindowGroupLimit` ships at most k rows per query out of each\n"
        "task before the final top-k window.",
    ),
    (
        "peak_open_orders",
        "Interval concurrency without an interval join: intervals melt to\n"
        "+1/-1 boundary deltas and PRE-AGGREGATE per (priority, date), so\n"
        "the running-sum window's input is bounded by the calendar, not\n"
        "the order count — at 100 TB the window reads a few thousand rows\n"
        "per group however many billions of intervals fed it. Two\n"
        "shuffles total (per-order rollup; per-priority window).",
    ),
    (
        "embedding_near_dup_lsh",
        "Sign-LSH near-dup with the round-6 AUTO config: signatures come\n"
        "from one Arrow-batched matmul UDF, candidates meet in a (table,\n"
        "sig) equi-self-join, and the exact fold-kernel rescoring runs on\n"
        "candidates only. At gate scale auto resolves to the byte-stable\n"
        "pinned (4,16) shape shown here; above 4096 rows the signature\n"
        "space widens with log2(n) so bucket population — and therefore\n"
        "the self-join's output — stays bounded per table, with a\n"
        "star-capped collect_list path as the skew backstop (20k-vector\n"
        "smoke: 26.5s where the fixed config never terminated).",
    ),
    (
        "embedding_clusters_lsh",
        "Semantic dedup at scale: the LSH pair generator feeds the\n"
        "min-label-propagation connected components — each iteration is\n"
        "one grouped min + one join, O(log n) rounds with lineage\n"
        "checkpointing, so cluster assignment never materializes the\n"
        "exact O(n^2) pair graph the gate-scale twin uses.",
    ),
    (
        "text_pii_scan",
        "PII scan + redaction: zero exchanges, zero Python — the regex\n"
        "match/count/replace all live inside WholeStageCodegen in the scan\n"
        "stage, so at 100 TB the operator is I/O-bound and embarrassingly\n"
        "parallel. The plan IS the scan.",
    ),
    (
        "feature_engineering_e2e",
        "The serving-side flagship: four per-user feature branches share\n"
        "the user_id partitioning (latest-row window, 7-day aggregate,\n"
        "decay aggregate), each branch's time window is pushed to its own\n"
        "parquet scan, and the population z-score moments collapse to ONE\n"
        "broadcast row — no second pass over events, no global join. The\n"
        "assembly is left joins on the shared key.",
    ),
    (
        "graph_pagerank",
        "Iterative message passing unrolled into the plan: each PageRank\n"
        "round is one edges-scores-degree join feeding a per-destination\n"
        "aggregate — O(E) work per round, all integer arithmetic (exact\n"
        "floor div), no float accumulation anywhere. The same body runs\n"
        "inside a checkpointed driver loop for round counts that would\n"
        "make the unrolled lineage too deep.",
    ),
    (
        "training_shuffle",
        "Epoch-deterministic training shuffle: the (shard, pos) coordinate\n"
        "is an overflow-safe integer hash (map-side) plus ONE per-shard\n"
        "window — exactly one hash exchange per epoch, no global sort, no\n"
        "range partitioning; shards sort independently so no task sees\n"
        "more than corpus/n_shards rows.",
    ),
    (
        "graph_triangles",
        "Degree-ordered orientation: every undirected edge points from its\n"
        "lower-(degree, id) endpoint, so wedge fan-out per node is bounded\n"
        "by O(sqrt(E)) REGARDLESS of skew — the million-follower hub\n"
        "contributes ~zero wedges because all its edges point into it.\n"
        "Two equi-joins (wedge build, closing-edge probe) + one explode\n"
        "aggregate; the naive 2-path join would be quadratic in the\n"
        "hottest degree, which is exactly what a power-law graph has.",
    ),
    (
        "corpus_boilerplate_removal",
        "The hot-segment set (segments in >= min_docs documents) is the\n"
        "heavy-hitter tail of the distribution — tiny by construction —\n"
        "so the corpus-wide removal is a BROADCAST anti-join: the\n"
        "documents are exploded map-side, filtered against the broadcast\n"
        "set, and reassembled with one groupBy(doc). The corpus never\n"
        "reshuffles to discover or apply the boilerplate set.",
    ),
    (
        "resample_interpolate",
        "Both surrounding observations come from ONE melt: grid and\n"
        "observation rows union into a single key partitioning and two\n"
        "window passes (ascending carry-forward, descending carry-back)\n"
        "share that exchange — no range join, no per-grid-point probe.\n"
        "The interpolation itself is exact integer cents x microseconds\n"
        "with sign-safe truncating division, so the values are\n"
        "reproducible bit-for-bit in any engine.",
    ),
    (
        "dedup_jaccard_prefix",
        "The EXACT similarity join that survives boilerplate floods: tokens\n"
        "sort rarest-first by global document frequency, only the short\n"
        "prefix each document must expose enters the self-join, and the size\n"
        "filter rides IN the join condition. A hot footer shingle has the\n"
        "highest df, sorts to the back of every document, and never joins —\n"
        "so the sum(c^2) blowup the brute inverted-index tier hits (472s at\n"
        "50k flooded docs vs 38s here) simply does not occur, with zero\n"
        "recall loss. Verification is candidate-bounded array_intersect on\n"
        "the already-carried sorted arrays.",
    ),
    (
        "window_moving_median",
        "Spark refuses median over a window FRAME, so the plan is\n"
        "collect_list bounded BY THE FRAME (7 values per row, not the\n"
        "partition) -> array_sort -> integer middle interpolation — one\n"
        "window exchange on user_id, everything else map-side expressions\n"
        "inside codegen. State scales with frame width; a year of history\n"
        "per user costs the same per-row work as a week.",
    ),
    (
        "agg_salted_hot_keys",
        "Two exchanges where the direct groupBy has one — and that is the\n"
        "point: the first aggregates (key, salt) so a hot key fans over 32\n"
        "reduce tasks instead of serializing behind one straggler; the\n"
        "second merges a partial table at most keys x 32 rows tall, which is\n"
        "noise. AQE splits skewed JOIN partitions at runtime but not skewed\n"
        "AGG keys; this plan is the manual lever, row-identical to the\n"
        "direct form.",
    ),
    (
        "embed_linear_probe",
        "Batch inference with zero Python in the hot path: the K x dim head\n"
        "is exact integer arithmetic INSIDE the plan, each vector scores as\n"
        "a strict ordered fold in whole-stage codegen, and the class expand\n"
        "is width-K map-side — the only exchange is the rn=1 window on\n"
        "vec_id. On 100 TB of embeddings this is a single scan-shaped pass;\n"
        "swapping the toy head for broadcast trained weights changes no plan\n"
        "property.",
    ),
    (
        "skyline_pareto_bucketed",
        "The dominance self-join is O(n^2); this plan has NO join on the\n"
        "data path at all. groupBy(minimize) collapses the input with\n"
        "map-side combine, per-bucket maxima feed a bounded driver collect\n"
        "(<= n_buckets rows — the ANN-seed pattern), the prefix maxima ride\n"
        "back as an array literal, and the running max is a window\n"
        "PARTITIONED by bucket: zero `Exchange SinglePartition` anywhere\n"
        "(plan-pinned; the global_window twin pays exactly one). The\n"
        "surviving chain is monotone — tiny by nature — so the join back to\n"
        "full rows is an explicit broadcast.",
    ),
    (
        "eval_bootstrap_ci",
        "Bootstrap that survives scale: no global resample shuffle\n"
        "exists anywhere in this plan. The 41 replicates appear as a\n"
        "map-side explode of a sequence literal, the per-replicate\n"
        "weighted sums partially aggregate BEFORE the exchange, and the\n"
        "reduce side sees |groups| x 41 rows whatever the input size.\n"
        "The weights are pure int64 codegen (pmod/multiply/threshold\n"
        "CASE) — no RNG state, no UDF, bit-reproducible across runs,\n"
        "retries, and engines.",
    ),
    (
        "privacy_suppression",
        "Suppression as aggregate + null-safe LEFT SEMI join-back, not\n"
        "`count() OVER (PARTITION BY qi)`: the window form sorts and\n"
        "materializes every QI partition (a whale class = a whale sort\n"
        "task), while here the build side is one row per SURVIVING class\n"
        "and AQE picks broadcast or skew-split at runtime. The censuses\n"
        "behind the k threshold are pure two-level hash aggregates —\n"
        "map-side partial combine, nothing wide anywhere.",
    ),
    (
        "layout_bucketed_join",
        "ZERO Exchange anywhere: both scans read catalog tables bucketed\n"
        "on user_id, so the per-user hash aggregate needs no shuffle and\n"
        "the fact-dim SortMergeJoin finds both sides already co-located\n"
        "(sortBy at write time also pre-sorts the buckets). This is the\n"
        "pay-the-shuffle-once-at-write lever: at 100 TB the same plan\n"
        "turns the warehouse's biggest recurring all-to-all into a local\n"
        "merge per bucket. Measured: 0.000 GB shuffle write per query vs\n"
        "0.099 GB for the identical query over raw parquet\n"
        "(NOTES 'Bucketed-vs-raw A/B', 20M rows).",
    ),
    (
        "agg_weighted_median",
        "Weighted order statistic with no interpolation anywhere: ONE\n"
        "hash aggregate over the data (map-side combinable), then both\n"
        "the running sum and the partition total ride the SAME window\n"
        "shuffle over the |keys x distinct values| spine — the total as\n"
        "a whole-partition frame, not a separate aggregate + join-back,\n"
        "because Spark 4.1 reuses no exchanges and that diamond\n"
        "re-scanned the input (measured: 6 scans / 4 shuffles before\n"
        "this restructure, 3 / 2 after). The half test (`2*cum >= W`) is\n"
        "pure BIGINT. The expensive exact-percentile aggregate (collects\n"
        "every value into aggregate state) never appears.",
    ),
    (
        "graph_bfs_levels",
        "Level-synchronous BFS: each round is one equi-join of the\n"
        "CURRENT FRONTIER (not the visited set) against the edge list,\n"
        "one distinct (hash agg, hub burst absorbed map-side — measured\n"
        "2M-fan-out hub, zero spill, NOTES 'BFS hub datapoint'), one\n"
        "left-anti probe of the visited set, and a localCheckpoint that\n"
        "keeps the unrolled plan tree flat. Work per round is\n"
        "O(frontier-adjacent edges); at 100 TB the cost driver is\n"
        "rounds x edge-scan, not skew.",
    ),
    (
        "graph_sssp_hops",
        "Frontier Bellman-Ford (min-plus BFS sibling): each round joins\n"
        "only LAST ROUND'S IMPROVED NODES against the edge list, takes a\n"
        "per-node min (hash agg, map-side combine absorbs hub fan-in),\n"
        "keeps the improvements with one renamed-column left join, and\n"
        "localCheckpoints to keep the unrolled tree flat. Integer weights\n"
        "keep the min-plus algebra exact; per-round cost matches BFS\n"
        "(measured 0.69 s/extra hop over 10M edges,\n"
        "NOTES 'BFS deep-hops datapoint') — rounds x edge-scan, never skew.",
    ),
    (
        "interval_coverage",
        "Gaps-and-islands in ONE window shuffle on (supplier, start): the\n"
        "running max end over earlier rows flags island breaks, a running\n"
        "sum numbers the islands on the SAME partitioning (a reorder, not\n"
        "an exchange), and one hash aggregate rolls islands up per\n"
        "supplier. The naive alternative — interval self-join to find\n"
        "overlaps — is O(n^2) per key; this shape is one sort per key and\n"
        "survives any per-key interval count the window's spillable row\n"
        "buffer survives.",
    ),
    (
        "trend_cusum_changepoint",
        "The whole statistic rides ONE window shuffle on (user, ts,\n"
        "event_id): row_number, the running sum, the key count and key\n"
        "total all share the partitioning; the argmax is a second window\n"
        "ORDER on the same partitions (a sort, not an exchange). The\n"
        "cross-multiplied |n*S_k - k*S_n| keeps everything BIGINT — no\n"
        "mean, no ratio, no float until nothing is left to hash.",
    ),
    (
        "layout_snapshot_cluster_compact",
        "Range-clustered compaction (round 12b): phase 1's windowed scan\n"
        "lists only the clustered segments whose FRESH [min, max] ts\n"
        "overlaps the window — the same read that scanned every segment\n"
        "before the rewrite (each interleaved append spanned the full range)\n"
        "and would scan the ONE merged stat-less segment forever after a\n"
        "plain compaction. The rewrite itself is one partitioned write job:\n"
        "quantile range buckets, sorted within, renamed into versioned\n"
        "segments; phases 2/3 scan the post- and pre-rewrite manifests of\n"
        "the same table, pinning certificate row-identity under the hash.",
    ),
    (
        "layout_snapshot_bloom",
        "Manifest bloom filters (round 12b): the point lookup's segment list\n"
        "is decided DRIVER-side — the md5-slice probe runs in pure Python\n"
        "against manifest-carried bits, no Spark job, and the plan scans the\n"
        "one segment that might hold the key (an absent key scans zero).\n"
        "Zone maps cannot prune this shape: every segment's [min, max]\n"
        "covers every probe when keys interleave. The exact IN predicate\n"
        "lands in PushedFilters on what little remains.",
    ),
    (
        "streaming_snapshot_source",
        "The snapshot table as a Structured Streaming SOURCE (round 12b,\n"
        "Spark 4 Python DataSource API): offsets are table VERSIONS and each\n"
        "micro-batch's partitions are exactly the segment directories the\n"
        "committed range added — planned from manifests via the same walk\n"
        "the batch CDF uses, so certified compactions flow through as no-ops\n"
        "and checkpointed resume replays deterministically. The captured\n"
        "plan aggregates the drained memory sink; the source's own work is\n"
        "Arrow-native pyarrow reads in Python workers, tagged\n"
        "_commit_version per segment.",
    ),
    (
        "layout_snapshot_format_write",
        "The snapshot WRITE path through the DataSource API (round 12b):\n"
        "executors stage Arrow batches as contention-free parquet files, the\n"
        "driver assembles a segment and publishes through the SAME CAS\n"
        "commit every writer uses — schema enforcement, delta manifests,\n"
        "batch ledger. Phase 2's metadata-only COUNT(*) comes from\n"
        "footer-summed row counts recorded at commit: the write path keeps\n"
        "the table's metadata answers intact without reading data.",
    ),
    (
        "layout_snapshot_zonemap",
        "Manifest zone maps (round 12): the windowed read's scan lists ONLY\n"
        "the segments whose manifest-recorded [min, max] ts overlaps the\n"
        "window — the pruning decision is made from O(metadata) before any\n"
        "file listing, so a time-windowed read of a 10^5-segment streaming\n"
        "table plans a handful of directories. The exact predicate re-applies\n"
        "inside the scan (PushedFilters), so stats change I/O, never answers;\n"
        "the strict-subset property is pinned in test_plans.py.",
    ),
    (
        "layout_snapshot_partition_overwrite",
        "Dynamic partition overwrite (round 12): phases 1/2 scan different\n"
        "MANIFEST versions of the same table — the backfill that corrected\n"
        "one partition moved metadata only, so phase 2's scan lists the\n"
        "untouched partitions' ORIGINAL directories plus the replacement.\n"
        "Phase 3 is the partition-pruned read: one partition's segments,\n"
        "chosen from the manifest tags, never a directory listing of the\n"
        "table. At 100 TB this is the daily-backfill pattern: one day's\n"
        "write, zero table scans.",
    ),
    (
        "layout_data_skipping",
        "The zone-map probe plan is the point: the stats table scan is\n"
        "metadata-sized (one row per file), the collected candidate list\n"
        "is bounded by FILE COUNT, and the data scan's file sources list\n"
        "ONLY the overlapping files — the plan-pinned strict subset\n"
        "(tests/test_plans.py). The exact predicate re-applies on top, so\n"
        "zone maps change I/O, never answers; at 100 TB the probe cost is\n"
        "proportional to matching files, not table size.",
    ),
]

HEADER = """# PLANS — physical plans of the flagship queries

Generated by `scripts/dump_plans.py` (`df.explain("formatted")` at
sf0.01, the driver's correctness scale). Each section: what the plan
does today on `local[32]`, and why the same shape holds on a
1000-executor cluster at 100 TB. Regenerate after operator changes.

Summary of the plan properties asserted in `tests/test_plans.py`.
Rows marked † are iterative operators whose final lineage is
checkpoint-truncated: their metrics are summed across the sub-plans the
query actually EXECUTED (captured from the SQL status store), and their
section shows the largest executed sub-plan — a representative round.

| Query | Scans pushed | Broadcasts | Shuffles (non-broadcast) |
|---|---|---|---|
"""


def main() -> None:
    from feast_ibm_spark.plans.inspect import explain_str
    from feast_ibm_spark.queries import QUERIES
    from feast_ibm_spark.session import get_spark

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    sections: list[str] = []
    summary_rows: list[str] = []
    store = spark._jsparkSession.sharedState().statusStore()
    for name, commentary in SHOWCASE:
        n_before = store.executionsList().size()
        df = QUERIES[name].fn(spark, SF_DIR)
        text = explain_str(df).rstrip()
        # strip the volatile Location lines (absolute tmp paths churn)
        text = re.sub(r"Location: \S+", "Location: <path>", text)
        # Iterative operators localCheckpoint their state each round, so
        # the FINAL DataFrame's lineage is a bare ExistingRDD scan — the
        # plan that matters executed eagerly inside fn(). Capture those
        # executed sub-plans from the SQL status store (what the SQL UI
        # shows), sum the metrics across them, and show the largest one
        # as the representative round (VERDICT r11 item 4: the old dump
        # reported 0 scans / 0 shuffles for exactly these queries).
        checkpoint_note = ""
        if "Scan ExistingRDD" in text:
            execs = store.executionsList()
            descs = [
                re.sub(r"Location: \S+", "Location: <path>",
                       execs.apply(i).physicalPlanDescription())
                for i in range(n_before, execs.size())
            ]
            if descs:
                text = "\n".join(descs).rstrip()
                shown = max(descs, key=len).rstrip()
                checkpoint_note = (
                    f"\n*(final lineage is checkpoint-truncated; metrics "
                    f"are summed across the {len(descs)} sub-plans this "
                    f"query actually executed — shown below is the "
                    f"largest, a representative round)*\n"
                )
        # summary metrics come from the FULL plan text; truncation below
        # is display-only (counting after the cap under-reported long
        # iterative plans — round-6 review fix)
        n_pushed = len(re.findall(r"PushedFilters: \[[^\]]", text))
        n_bcast = len(re.findall(r"Broadcast(?:Hash|NestedLoop)Join", text))
        n_shuffle = len(re.findall(r"\(\d+\) Exchange\b", text))
        if checkpoint_note:
            text = shown
        # iterative/cached plans (connected components) and literal-heavy
        # oracles render tens of thousands of lines; cap each section —
        # the shape argument lives in the first screens, not the tail
        lines = text.splitlines()
        if len(lines) > PLAN_LINE_CAP:
            text = "\n".join(lines[:PLAN_LINE_CAP]) + (
                f"\n... [{len(lines) - PLAN_LINE_CAP} more lines elided —"
                " iterative plan; regenerate locally for the full tree]"
            )
        mark = " †" if checkpoint_note else ""
        summary_rows.append(
            f"| `{name}`{mark} | {n_pushed} | {n_bcast} | {n_shuffle} |"
        )
        sections.append(
            f"## {name}\n\n{commentary}\n{checkpoint_note}\n"
            f"```text\n{text}\n```\n"
        )

    out = HEADER + "\n".join(summary_rows) + "\n\n" + "\n".join(sections)
    dest = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(dest, "w") as f:
        f.write(out)
    print(f"wrote {dest} ({len(out.splitlines())} lines)")


if __name__ == "__main__":
    main()
