"""Point-in-time (as-of) join — the engine's flagship operator.

Semantics (reference Jinja template
``ibm_data_engine/data_engine_offline_store.py:601-779``): for each spine
row (entity keys + event timestamp) and each FeatureView, pick the feature
row with equal entity keys and the greatest ``feature.ts`` satisfying
``feature.ts <= spine.ts`` and — only when TTL != 0 —
``feature.ts >= spine.ts - ttl`` (as-of ``:686``, TTL ``:688-690``, equi
keys ``:692-694``). Ties on ``feature.ts`` are broken by greatest
``created_timestamp_column`` when configured (dedup CTE ``:703-712``,
window ordering ``:725-729``). The spine is the source of truth: every
spine row survives via a final LEFT join (``:765-778``), with NULL features
on no match. ``full_feature_names`` prefixes outputs ``<view>__<feature>``
(``:660-662``, ``:770-773``).

Deliberate fixes vs the reference (documented compat deltas):
- Row-id collision hazard: the reference concatenates key casts with NO
  separator (``:611-619``) so entities ("ab","c") and ("a","bc") collide.
  We join winners back on the actual (keys, ts) columns instead of a
  synthetic string id — collision-free and cheaper (no giant string column
  through the shuffle).
- The reference's dedup + latest + join-back triple (``:703-756``) folds
  into ONE window (order by ts DESC, created DESC) carrying all feature
  columns — two fewer self-joins.

Physical strategies (chosen for 100 TB; see SURVEY.md §4):
- ``broadcast``  — hint-broadcast the deduped spine; the PIT range join
  becomes a BroadcastHashJoin on the entity keys with the range predicate
  as a post-join filter, then one window per spine row. Right when
  spine ≪ features (the common Feast case).
- ``shuffle``    — no hint; AQE picks SMJ/broadcast at runtime from real
  sizes and splits skewed keys.
- ``union_window`` ("melt") — tag + union spine and feature rows, ONE
  shuffle on the entity key, sort by (ts, tag), and take
  ``last(features, ignorenulls=True)`` over an unbounded-preceding window;
  TTL enforced by post-checking the matched timestamp. No join blowup even
  when both sides are huge and many feature rows precede each spine row.
  Round-4 skew benchmark (NOTES.md "PIT strategy choice", 5M feature
  rows / 50%-hot key): melt beats broadcast/shuffle at BOTH a selective
  300-row spine (0.35s vs 0.85/0.75s) and a full-key 37.5k-row spine
  (0.45s vs 3.4/3.3s), hot key included — so ``auto`` melts by default
  (one carve-out: sources bucketed on the join keys go broadcast, whose
  feature lineage then plans with zero exchanges; the melt's spine union
  would discard the bucketed distribution — measured, test-pinned).
  With a broadcast-sized spine the melt adds a LEFT SEMI key prune of the
  feature side (``prune_keys``) so the window shuffle carries only the
  requested keys' history — the property that matters at 100 TB, where
  an unpruned melt would shuffle the corpus for a 300-entity request.
- ``union_window_salted`` — the melt salted by time bucket: windows
  partition by (key, floor(ts/B)) plus a per-key carry pass over one-row
  bucket summaries, so even a single hot key's history splits across
  buckets (see ``_join_one_view_union_window_salted``). Use when one key
  exceeds an executor's partition budget under the plain melt.

The TTL prefilter rewrite (bound the feature side to
``[min_spine_ts - ttl, max_spine_ts]`` before the join, reference
``:664-674``) is kept: Catalyst cannot derive it, and at 100 TB it is the
difference between scanning a day and scanning a decade. It needs the
spine's min/max timestamp, computed with one tiny aggregate job.

Hot-key skew (measured; pinned by test_plans.py::
test_pit_strategies_absorb_hot_key_skew): AQE's OptimizeSkewedJoin never
fires on the ``shuffle`` strategy's candidate join — the rule matches only
SMJ(Sort(ShuffleStage), Sort(ShuffleStage)) and the spine side always
carries its dedup aggregate between the shuffle and the join — so a hot
entity key lands in one sorted partition (spills, completes, straggles at
extreme scale). For skewed spines prefer ``broadcast``: the feature side
never shuffles on the key, and Spark 4 plants a map-side Partial
WindowGroupLimit before the rn=1 window's exchange, shipping at most one
row per (key, ts) group per task — the hot key's fanout never crosses the
wire. ``union_window`` concentrates each key in one window partition;
``union_window_salted`` implements the time-bucket salting for keys that
exceed an executor's budget.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType


@dataclass
class FeatureViewSpec:
    """What the engine needs from a Feast FeatureView (reference consumes
    these via ``feature_views: List[FeatureView]``, ``:358``, ``:366-367``)."""

    name: str
    source: DataFrame
    join_keys: list[str]
    features: list[str]
    timestamp_field: str
    created_timestamp_column: str | None = None
    ttl_seconds: int = 0  # 0 => no lower bound (reference :669, :688-690)
    field_mapping: dict[str, str] = dc_field(default_factory=dict)
    # Hive-style date partition column ('yyyy-MM-dd' strings) of the source
    # layout. When set, the TTL prefilter also emits string predicates on
    # this column (reference :665-667, :671-673 — the [:10] date slice of
    # the bound timestamps), which Catalyst turns into directory-level
    # PartitionFilters: row-group pruning alone cannot skip directories
    # whose timestamp column is not itself the partition key.
    date_partition_column: str | None = None
    # Columns the source table is hash-bucketed on (sources/bucketed.py
    # ``bucket_spec`` reads them from the catalog). When they cover the
    # join keys, the feature side already carries hashpartitioning(keys)
    # from the scan, so the BROADCAST strategy runs with ZERO feature-side
    # exchanges (measured: 8 -> 6 whole-plan exchanges; the remaining two
    # are the spine's own) — and ``auto`` prefers it over the melt, whose
    # union discards the bucketed distribution (measured: no saving).
    bucketed_on: list[str] | None = None


def _spine_time_range(spine: DataFrame, ts_col: str):
    """(min_ts, max_ts, n_rows) of the spine in ONE tiny aggregate job —
    the count rides along free for the ``auto`` strategy choice."""
    row = spine.agg(
        F.min(ts_col).alias("lo"),
        F.max(ts_col).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return row["lo"], row["hi"], row["n"]


def _out_name(view: FeatureViewSpec, feat: str, full_feature_names: bool) -> str:
    return f"{view.name}__{feat}" if full_feature_names else feat


def _spine_hot_key_max(spine: DataFrame, keys: list[str]) -> int:
    """Max spine rows on any single key combination — one tiny two-stage
    aggregate (per-key counts combine map-side; the reduce is a single
    max over one row per distinct key). ``auto`` uses this histogram to
    decide plain-melt vs salted-melt per view; it is only run when the
    spine's TOTAL row count (already known, free, from the range
    aggregate) exceeds the partition budget — a spine smaller than the
    budget cannot contain a key above it."""
    row = spine.groupBy(*keys).count().agg(F.max("count").alias("m")).first()
    return int(row["m"] or 0)


def point_in_time_join(
    spine: DataFrame,
    feature_views: list[FeatureViewSpec],
    spine_timestamp_field: str = "event_timestamp",
    full_feature_names: bool = False,
    strategy: str = "auto",
    time_range: tuple | None = None,
    auto_broadcast_rows: int = 5_000_000,
    salt_partition_budget_rows: int | None = 4_000_000,
) -> DataFrame:
    """Join every FeatureView onto the spine as-of the spine timestamp.

    ``strategy``: ``auto`` (the default on every entry point) |
    ``broadcast`` | ``shuffle`` | ``union_window`` |
    ``union_window_salted`` (see module docstring). ``auto`` (re-derived
    round 4 from the skew benchmark, NOTES.md "PIT strategy choice"):
    the melt is the winning
    physical shape at every measured spine size — it never multiplies
    feature rows through a join and absorbs a 50%-hot key in one sorted
    partition — so auto always melts, and the spine row count (from the
    same one-job aggregate that computes the TTL range, so the decision
    is free) only decides KEY PRUNING: a spine at or under
    ``auto_broadcast_rows`` broadcast-semi-joins its key set onto the
    feature side first, keeping the window shuffle to the requested keys'
    history instead of the whole corpus — the part that matters at 100 TB
    where the melt's unpruned shuffle is the scan. Round 7: ``auto`` also
    probes the spine's per-key histogram (only when total rows exceed
    ``salt_partition_budget_rows``, so the probe is free for every spine
    that cannot contain a hot key) and escalates to the salted melt when
    one key's spine rows exceed the budget — the whale-key partition
    bound, measurement-backed (NOTES.md round 7 "hot-SPINE salted-melt
    crossover"). ``salt_partition_budget_rows=None`` disables the probe.
    All spine columns
    (including label/pass-through columns, reference
    ``tests/test_integration.py:160``) survive to the output.

    ``time_range`` is the spine's ``(min_ts, max_ts, n_rows)`` as
    returned by ``_spine_time_range``; callers that already ran that
    probe (the store facade, which also exposes the range as job
    metadata) pass it in so the tiny aggregate runs once, not twice.
    """
    if strategy not in (
        "broadcast", "shuffle", "union_window", "union_window_salted", "auto"
    ):
        raise ValueError(f"unknown strategy: {strategy}")
    if salt_partition_budget_rows is not None and salt_partition_budget_rows <= 0:
        raise ValueError(
            "salt_partition_budget_rows must be positive (or None to "
            f"disable the hot-spine probe); got {salt_partition_budget_rows}"
        )

    lo, hi, n_rows = time_range or _spine_time_range(spine, spine_timestamp_field)
    small_spine = n_rows <= auto_broadcast_rows
    salted_views: set[str] = set()
    if strategy == "auto":
        # bucketed carve-out: when every view's source is bucketed on its
        # join keys, the broadcast strategy's feature lineage needs no
        # exchange at all — strictly better than the melt, which unions
        # the spine in and thereby discards the bucketed distribution.
        # The carve-out still BROADCASTS the spine's distinct key set (and
        # the winners frame), so it is gated on auto_broadcast_rows like
        # every other broadcast decision: a spine above the cap falls back
        # to the melt even over bucketed sources — losing the bucketed
        # distribution beats a driver/executor OOM on the broadcast build.
        if (
            feature_views
            and small_spine
            and all(
                v.bucketed_on is not None
                and set(v.bucketed_on) <= set(v.join_keys)
                for v in feature_views
            )
        ):
            strategy = "broadcast"
        else:
            strategy = "union_window"
            # Hot-spine escalation (round 7, VERDICT r6 item 3): a key
            # holding more spine rows than the partition budget would put
            # them ALL in one plain-melt window partition — the straggler/
            # OOM shape. Probe the spine's per-key histogram (one tiny
            # two-stage aggregate per distinct key set, skipped entirely
            # while total rows <= budget since no key can exceed the
            # total) and escalate THAT view to the salted melt. Budget
            # default is measurement-backed (NOTES.md round 7 "hot-SPINE
            # salted-melt crossover"): plain melt still wins at a 500k-row
            # hot key (~1.3x faster than salted); the salted melt's bound
            # matters when one key's partition outgrows executor memory,
            # so the default stays above every measured wall-clock
            # crossover and below the multi-GiB sort-spill zone.
            if (
                salt_partition_budget_rows is not None
                and n_rows > salt_partition_budget_rows
            ):
                hot_cache: dict[tuple, int] = {}
                for v in feature_views:
                    kt = tuple(v.join_keys)
                    if kt not in hot_cache:
                        hot_cache[kt] = _spine_hot_key_max(spine, list(kt))
                salted_views = {
                    v.name
                    for v in feature_views
                    if hot_cache[tuple(v.join_keys)] > salt_partition_budget_rows
                }
    out = spine
    for view in feature_views:
        view_strategy = strategy
        if strategy == "union_window" and view.name in salted_views:
            view_strategy = "union_window_salted"
        if view_strategy == "union_window":
            out = _join_one_view_union_window(
                out, view, spine_timestamp_field, full_feature_names, lo, hi,
                prune_keys=small_spine,
            )
        elif view_strategy == "union_window_salted":
            out = _join_one_view_union_window_salted(
                out, view, spine_timestamp_field, full_feature_names, lo, hi,
                prune_keys=small_spine,
            )
        else:
            out = _join_one_view(
                out, view, spine_timestamp_field, full_feature_names, lo, hi,
                broadcast_spine=(view_strategy == "broadcast"),
            )
    return out


def _prepared_feature_side(view: FeatureViewSpec, lo, hi) -> DataFrame:
    """Project + rename + TTL-bounded prefilter (reference subquery CTE
    ``:655-676``): upper bound ts <= max_spine_ts always; lower bound
    ts >= min_spine_ts - ttl only when TTL != 0. The range predicate is
    routed through filter_ts_range so it reaches the parquet scan even on
    nanos-timestamp sources."""
    import datetime as _dt

    from ..sources.reader import filter_ts_range

    feat = view.source
    if view.field_mapping:
        feat = feat.withColumnsRenamed(view.field_mapping)
    lo_bound = None
    if view.ttl_seconds and lo is not None:
        lo_bound = lo - _dt.timedelta(seconds=view.ttl_seconds)
    if view.date_partition_column is not None:
        # Reference :665-667 / :671-673: string compare on the partition
        # column using the date slice ([:10]) of the timestamp bounds.
        # Day truncation only WIDENS the window (floor of lo, day of hi),
        # so results are unchanged; Catalyst prunes directories.
        dpc = F.col(view.date_partition_column)
        if hi is not None:
            feat = feat.filter(dpc <= str(hi)[:10])
        if lo_bound is not None:
            feat = feat.filter(dpc >= str(lo_bound)[:10])
    feat = filter_ts_range(feat, view.timestamp_field, lo_bound, hi)
    cols = [
        *view.join_keys,
        view.timestamp_field,
        *([view.created_timestamp_column] if view.created_timestamp_column else []),
        *view.features,
    ]
    return feat.select(*dict.fromkeys(cols))


def _join_one_view(
    spine: DataFrame,
    view: FeatureViewSpec,
    spine_ts: str,
    full_feature_names: bool,
    lo,
    hi,
    broadcast_spine: bool,
) -> DataFrame:
    feat = _prepared_feature_side(view, lo, hi)

    # Distinct (keys, ts) — the reference's per-view spine dedup CTE
    # (:626-636) — so the candidate join and window run once per unique
    # entity/timestamp, not once per spine row.
    key_ts = [*view.join_keys, spine_ts]
    spine_keys = spine.select(*key_ts).distinct()
    if broadcast_spine:
        spine_keys = F.broadcast(spine_keys)

    f = feat.alias("f")
    s = spine_keys.alias("s")
    cond = F.col(f"f.{view.timestamp_field}") <= F.col(f"s.{spine_ts}")
    if view.ttl_seconds:
        cond = cond & (
            F.col(f"f.{view.timestamp_field}")
            >= F.col(f"s.{spine_ts}") - F.expr(f"INTERVAL {view.ttl_seconds} SECOND")
        )
    for k in view.join_keys:
        cond = cond & (F.col(f"f.{k}") == F.col(f"s.{k}"))

    cand = f.join(s, cond, "inner")

    # One window replaces the reference's dedup/latest/cleaned CTE chain
    # (:703-756): latest feature ts, tie-broken by created DESC.
    order = [F.col(f"f.{view.timestamp_field}").desc()]
    if view.created_timestamp_column:
        order.append(F.col(f"f.{view.created_timestamp_column}").desc())
    w = Window.partitionBy(
        *[F.col(f"s.{k}") for k in view.join_keys], F.col(f"s.{spine_ts}")
    ).orderBy(*order)

    winners = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *[F.col(f"s.{k}").alias(k) for k in view.join_keys],
            F.col(f"s.{spine_ts}").alias(spine_ts),
            *[
                F.col(f"f.{feat_col}").alias(_out_name(view, feat_col, full_feature_names))
                for feat_col in view.features
            ],
        )
    )
    if broadcast_spine:
        # winners has at most one row per distinct spine (keys, ts): small.
        winners = F.broadcast(winners)

    # Final LEFT join — spine is the source of truth (:765-778). Joining on
    # the real (keys, ts) columns avoids the reference's synthetic
    # concatenated row id and its collision hazard (:611-619).
    return spine.join(winners, on=key_ts, how="left")


def _melt(
    spine: DataFrame, view: FeatureViewSpec, spine_ts: str, lo, hi, prune_keys: bool
) -> DataFrame:
    """The melt both union-window strategies sort: the view's feature rows
    (tag 0, payload = matched ts + features) unioned with the spine's
    distinct (keys, ts) rows (tag 1, null payload), the spine timestamp
    and feature timestamp both renamed ``__ts``.

    ``prune_keys`` (round 4): broadcast LEFT SEMI the spine's key set onto
    the feature side before the melt. For a SELECTIVE spine (the typical
    retrieval: a few hundred entities against a huge history) this keeps
    the melt's window shuffle to the requested keys' rows instead of the
    whole corpus — without it the melt shuffles every feature row however
    small the spine, which local wall-clock forgives (shuffle ~ memcpy)
    but a 100 TB cluster does not. Enabled automatically when the caller
    knows the spine is broadcast-sized; harmless semantically (rows of
    keys absent from the spine can never match)."""
    feat = _prepared_feature_side(view, lo, hi)
    if prune_keys:
        feat = feat.join(
            F.broadcast(spine.select(*view.join_keys).distinct()),
            on=view.join_keys,
            how="left_semi",
        )

    # Pre-dedupe feature rows per (keys, ts): keep max created (folds the
    # reference's dedup CTE :703-712 into the melt).
    if view.created_timestamp_column:
        wdup = Window.partitionBy(*view.join_keys, view.timestamp_field).orderBy(
            F.col(view.created_timestamp_column).desc()
        )
        feat = (
            feat.withColumn("__rn", F.row_number().over(wdup))
            .filter(F.col("__rn") == 1)
            .drop("__rn", view.created_timestamp_column)
        )

    feat_tagged = feat.select(
        *view.join_keys,
        F.col(view.timestamp_field).alias("__ts"),
        F.lit(0).alias("__tag"),
        F.struct(
            F.col(view.timestamp_field).alias("__matched_ts"), *view.features
        ).alias("__payload"),
    )
    spine_tagged = spine.select(*view.join_keys, spine_ts).distinct().select(
        *view.join_keys,
        F.col(spine_ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        F.lit(None).cast(feat_tagged.schema["__payload"].dataType).alias("__payload"),
    )
    return feat_tagged.unionByName(spine_tagged)


def _melt_winners_joined(
    spine: DataFrame,
    view: FeatureViewSpec,
    spine_ts: str,
    full_feature_names: bool,
    matched: DataFrame,
) -> DataFrame:
    """Finish a melt: ``matched`` holds one row per distinct spine
    (keys, ``__ts``) with its carried ``__match`` payload. Null matches
    older than ``spine.ts - ttl`` (TTL != 0 only), then left-join the
    winners back onto the spine (reference :765-778)."""
    if view.ttl_seconds:
        in_ttl = F.col("__match.__matched_ts") >= (
            F.col("__ts") - F.expr(f"INTERVAL {view.ttl_seconds} SECOND")
        )
        matched = matched.withColumn("__match", F.when(in_ttl, F.col("__match")))
    winners = matched.select(
        *view.join_keys,
        F.col("__ts").alias(spine_ts),
        *[
            F.col(f"__match.{c}").alias(_out_name(view, c, full_feature_names))
            for c in view.features
        ],
    )
    return spine.join(winners, on=[*view.join_keys, spine_ts], how="left")


def _join_one_view_union_window(
    spine: DataFrame,
    view: FeatureViewSpec,
    spine_ts: str,
    full_feature_names: bool,
    lo,
    hi,
    prune_keys: bool = False,
) -> DataFrame:
    """Melt as-of join: one equi-shuffle on the entity keys, no range join.

    Sort each key partition of the melt (``_melt``) by (ts, tag) and carry
    the latest feature row forward with ``last(..., ignorenulls=True)``. A
    feature row at exactly the spine timestamp sorts BEFORE the spine row
    (tag 0 < 1), preserving the inclusive ``<=`` bound. TTL is enforced
    afterwards by nulling matches whose timestamp is older than
    ``spine.ts - ttl``."""
    melted = _melt(spine, view, spine_ts, lo, hi, prune_keys)
    w = (
        Window.partitionBy(*view.join_keys)
        .orderBy(F.col("__ts").asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = melted.withColumn(
        "__match", F.last("__payload", ignorenulls=True).over(w)
    ).filter(F.col("__tag") == 1)
    return _melt_winners_joined(spine, view, spine_ts, full_feature_names, carried)


def _join_one_view_union_window_salted(
    spine: DataFrame,
    view: FeatureViewSpec,
    spine_ts: str,
    full_feature_names: bool,
    lo,
    hi,
    salt_bucket_seconds: int = 86400,
    prune_keys: bool = False,
) -> DataFrame:
    """Melt as-of join SALTED by time bucket — the hot-key scale path.

    The plain melt (``union_window``) puts a key's entire history in ONE
    window partition, so a bot/power-user key becomes a straggler. Here
    the classic two-phase parallel-prefix split bounds every partition:

    1. *Within-bucket pass*: melt windows partition by
       ``(keys, floor(ts / B))`` — a hot key's history splits across its
       time buckets, each sorted independently.
    2. *Carry pass*: per (key, bucket) keep only the LAST feature payload
       (one row per bucket — tiny), then one per-key window over bucket
       summaries computes each bucket's carry-in (the last feature in any
       EARLIER bucket). Per-key state is n_buckets rows, not n_rows.
    3. Spine rows with no within-bucket match take their bucket's
       carry-in; the TTL check runs on the merged match as usual.

    Same oracle semantics as every other strategy (pinned by the
    randomized brute-force test); choose B >= TTL-scale so carry chains
    stay short, and note carry-in is EXEMPT from partition skew — it is
    one row per (key, bucket) regardless of row counts. ``prune_keys``
    mirrors the plain melt's broadcast LEFT SEMI key prune (a whale key
    requested through a small spine still benefits — the prune drops
    every OTHER key's history before the bucketed shuffle).
    """
    melted = _melt(spine, view, spine_ts, lo, hi, prune_keys)
    # NTZ-safe bucketing (round 7, hardened after review): TIMESTAMP
    # casts straight to double (epoch seconds, monotone). TIMESTAMP_NTZ
    # must NOT route through a session-zone cast — a DST spring-forward
    # gap makes that mapping NON-monotone (measured: NTZ 02:30 in the
    # America/New_York gap lands AFTER 03:05), which would file a
    # feature row in a LATER bucket than a later spine row and hide it
    # from both the within-bucket window and the carry pass. Instead
    # decompose the NTZ wall clock zone-free (days*86400 + h*3600 +
    # m*60 + s) — non-decreasing in the NTZ value by construction
    # (sub-second values share a bucket second, which is fine: bucket
    # assignment only needs weak monotonicity; within-bucket ordering
    # uses the full-precision __ts). The bucket is computed over the
    # POST-union dtype: if the two sides' timestamp types differ the
    # union coerces them first, so bucketing melted (and deriving
    # bucket_last from melted below) guarantees both passes see
    # identical bucket boundaries.
    ts = F.col("__ts")
    if isinstance(melted.schema["__ts"].dataType, TimestampNTZType):
        secs = (
            F.unix_date(F.to_date(ts)).cast("bigint") * 86400
            + F.hour(ts) * 3600
            + F.minute(ts) * 60
            + F.second(ts)
        )
    else:
        secs = ts.cast("double")
    melted = melted.withColumn(
        "__bucket", F.floor(secs / salt_bucket_seconds).cast("bigint")
    )

    # phase 1: within-bucket carry — partitions bounded by (key, bucket)
    w_in = (
        Window.partitionBy(*view.join_keys, "__bucket")
        .orderBy(F.col("__ts").asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = melted.withColumn(
        "__within", F.last("__payload", ignorenulls=True).over(w_in)
    )

    # phase 2: one summary row per (key, bucket) = the bucket's last
    # feature payload; carry-in = last summary over EARLIER buckets
    bucket_last = (
        melted.filter(F.col("__tag") == 0)
        .groupBy(*view.join_keys, "__bucket")
        .agg(F.max_by("__payload", "__ts").alias("__bucket_payload"))
    )
    all_buckets = (
        melted.select(*view.join_keys, "__bucket")
        .distinct()
        .join(bucket_last, [*view.join_keys, "__bucket"], "left")
    )
    w_carry = (
        Window.partitionBy(*view.join_keys)
        .orderBy(F.col("__bucket").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = all_buckets.withColumn(
        "__carry_in", F.last("__bucket_payload", ignorenulls=True).over(w_carry)
    ).select(*view.join_keys, "__bucket", "__carry_in")

    # phase 3: merge; spine rows only
    merged = (
        within.filter(F.col("__tag") == 1)
        .join(carry, [*view.join_keys, "__bucket"])
        .withColumn("__match", F.coalesce(F.col("__within"), F.col("__carry_in")))
    )
    return _melt_winners_joined(spine, view, spine_ts, full_feature_names, merged)
