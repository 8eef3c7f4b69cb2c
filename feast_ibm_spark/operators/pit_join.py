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
spine row survives with NULL features on no match — the reference's final
LEFT join (``:765-778``). Here the first melt group's spine arm is the
spine itself, so its window emits the result rows directly and only the
other key-set groups and strategies join back. The result rows therefore
come in key-partition order, not the spine's order (at scale the join-back
shuffled too). ``full_feature_names`` prefixes outputs ``<view>__<feature>``
(``:660-662``, ``:770-773``).

Deliberate fixes vs the reference (documented compat deltas):
- Row-id collision hazard: the reference concatenates key casts with NO
  separator (``:611-619``) so entities ("ab","c") and ("a","bc") collide.
  The spine's own rows ride the first melt and the other winners join
  back on the actual (keys, ts) columns instead of a synthetic string id
  — collision-free and cheaper (no giant string column through the
  shuffle).
- The reference's dedup + latest + join-back triple (``:703-756``) folds
  into ONE window (order by ts DESC, created DESC) carrying all feature
  columns — two fewer self-joins.

Physical strategies (chosen for 100 TB; see SURVEY.md §4):
- ``range_join`` — the as-of range join (``asof.asof_winners``): an equi
  join on the entity keys with the range predicate as a post-join filter,
  then one window per distinct spine (keys, ts). The spine's row count
  sizes it: at or under ``auto_broadcast_rows`` (the gate every PIT
  broadcast decision uses) the deduped spine and the winners are
  hint-broadcast, so the join is a BroadcastHashJoin and the feature side
  never shuffles on the key; above it neither is hinted and AQE picks
  the join from runtime sizes, so a large spine is never broadcast.
- ``union_window`` ("melt") — tag + union spine and feature rows, ONE
  shuffle on the entity key, sort by (ts, tag), and take
  ``last(features, ignorenulls=True)`` over an unbounded-preceding window;
  TTL enforced by post-checking the matched timestamp. No join blowup even
  when both sides are huge and many feature rows precede each spine row.
  ONE melt per join-key set, not per view: views on the same keys union
  into one melt (one exchange, one Window). The first set's melt carries
  the spine's rows (every column, duplicates too) and emits the result;
  each later set's melt carries the spine's distinct (keys, ts) and its
  winners join back. Views that
  also share a source — equal timestamp/created/partition columns, equal
  column names after ``field_mapping``, and ``sameResult`` analyzed
  source plans — share one *arm*: one scan and one payload, prefiltered
  to the widest range any of them needs (``min_spine_ts - max(ttl)``, no
  lower bound if any has TTL 0); each view's own TTL post-check keeps
  the result exact. Other sources on the key set add their own arm.
  Round-4 skew benchmark (NOTES.md "PIT strategy choice", 5M feature
  rows / 50%-hot key): melt beats broadcast/shuffle at BOTH a selective
  300-row spine (0.35s vs 0.85/0.75s) and a full-key 37.5k-row spine
  (0.45s vs 3.4/3.3s), hot key included — so ``auto`` melts by default
  (one carve-out: sources whose plan is hash-partitioned on the join keys
  — bucketed tables — take the broadcast range join, whose feature
  lineage then plans with zero exchanges; the melt's spine union would
  discard the bucketed distribution — measured, test-pinned).
  With a broadcast-sized spine the melt adds a LEFT SEMI key prune of the
  feature side (``prune_keys``) so the window shuffle carries only the
  requested keys' history — the property that matters at 100 TB, where
  an unpruned melt would shuffle the corpus for a 300-entity request.
- ``union_window_salted`` — the melt salted by time bucket: windows
  partition by (key, floor(ts/B)) plus a per-key carry pass over one-row
  bucket summaries, so even a single hot key's history splits across
  buckets (see ``_salted_melt_winners``). Use when one key
  exceeds an executor's partition budget under the plain melt.

The TTL prefilter rewrite (bound the feature side to ``[min_spine_ts -
ttl, max_spine_ts]`` before the join, reference ``:664-674``; a shared
melt arm takes its views' widest range) is kept: Catalyst cannot derive
it, and at 100 TB it is the difference between scanning a day and
scanning a decade. It needs the spine's min/max timestamp
(``SpineFacts``): one tiny aggregate job, or none when the caller holds
the spine's rows (a pandas spine). The bounds are instants, as the
reference's ``pd.to_datetime(..., utc=True)`` range is (``:584-585``):
aware UTC for a TIMESTAMP spine, so ``min_spine_ts - ttl`` is exact
across a DST change whatever the driver's zone, and a TIMESTAMP_NTZ
feature column compares against their UTC wall clock. The bounds widen
outward to whole hours of the feature column's time space (floor the
lower, ceil the upper; ``filter_ts_range(prefilter=True)``). Whole-stage
codegen inlines the bound literals into the generated scan code and
Spark caches compiled classes by their source, so exact bounds made
every spine with a new maximum compile its scan stage again; whole-hour
bounds let every retrieval in the same hours reuse the compiled classes.
The widening cannot change a result: a feature row after
``max_spine_ts`` sorts after every spine row (melt) or fails
``feature.ts <= spine.ts`` (range join), and one before ``min_spine_ts -
ttl`` fails every view's TTL check.

Hot-key skew (measured; pinned by test_plans.py::
test_pit_strategies_absorb_hot_key_skew): AQE's OptimizeSkewedJoin never
fires on the range join's shuffle side — the rule matches only
SMJ(Sort(ShuffleStage), Sort(ShuffleStage)) and the spine side always
carries its dedup aggregate between the shuffle and the join — so a hot
entity key lands in one sorted partition (spills, completes, straggles at
extreme scale). The broadcast side absorbs it: the feature side never
shuffles on the key, and Spark 4 plants a map-side Partial
WindowGroupLimit before the rn=1 window's exchange, shipping at most one
row per (key, ts) group per task — the hot key's fanout never crosses the
wire. ``union_window`` concentrates each key in one window partition;
``union_window_salted`` implements the time-bucket salting for keys that
exceed an executor's budget.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from .asof import BROADCAST_ROWS, SpineFacts, asof_winners


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


def _out_name(view: FeatureViewSpec, feat: str, full_feature_names: bool) -> str:
    return f"{view.name}__{feat}" if full_feature_names else feat


def point_in_time_join(
    spine: DataFrame,
    feature_views: list[FeatureViewSpec],
    spine_timestamp_field: str = "event_timestamp",
    full_feature_names: bool = False,
    strategy: str = "auto",
    facts: SpineFacts | None = None,
    auto_broadcast_rows: int = BROADCAST_ROWS,
    salt_partition_budget_rows: int | None = 4_000_000,
) -> DataFrame:
    """Join every FeatureView onto the spine as-of the spine timestamp.

    ``strategy``: ``auto`` (the default on every entry point) |
    ``range_join`` | ``union_window`` | ``union_window_salted`` (see
    module docstring). ``range_join`` broadcasts the spine side when the
    spine has at most ``auto_broadcast_rows`` rows and shuffles it
    otherwise. ``auto`` (re-derived
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
    With every column materialized (a ``noop`` write; a ``count()``
    prunes the melt's Window and join away and times less work), the
    range join's two sides tie and both beat the plain melt on one spine
    row per key: median 0.66 s broadcast, 0.67 s shuffle, 0.98 s melt at
    sf0.1, and 1.03, 0.88 and 1.75 s on its 10x copy (NOTES.md "Does
    ``shuffle`` ever beat the melt?"). The pandas-spine ``training_set``
    shape still wants the melt, so ``auto``'s choices stand.
    All spine columns
    (including label/pass-through columns, reference
    ``tests/test_integration.py:160``) survive to the output, followed by
    the features in view order. Every spine row survives, duplicates
    too; a row whose key or timestamp is NULL gets NULL features. The
    rows come back in key-partition order, not the spine's. An output
    name that repeats, or that equals a spine column, raises
    ``ValueError`` (Feast's ``FeatureNameCollisionError``).

    The melt strategies run once per join-key set: every view on the
    same keys goes through one union, one exchange and one Window (one
    ``last`` per source arm). The first set's melt carries the spine's
    own rows and its window emits the result; each later set, the
    salted melt and the range-join strategies return winners that LEFT
    join back onto it. Views with the same source share an arm — one
    scan prefiltered to their widest TTL range — and each view then
    nulls matches outside its own TTL. The salted melt stays per view.

    ``facts`` is what the join reads about the spine (``SpineFacts``:
    ``lo``/``hi``/``n_rows``, ``hot_key_max(keys)``, ``distinct(cols)``).
    The default, ``SpineFacts(spine, spine_timestamp_field)``, asks Spark
    for them. The store facade passes the one it built with the spine: for
    a pandas spine, facts computed from the pandas frame, so the join's
    preamble runs no Spark job; for any spine, the object its job
    metadata reads too, so the range aggregate runs at most once.
    """
    if strategy not in ("auto", "range_join", "union_window", "union_window_salted"):
        raise ValueError(f"unknown strategy: {strategy}")
    if salt_partition_budget_rows is not None and salt_partition_budget_rows <= 0:
        raise ValueError(
            "salt_partition_budget_rows must be positive (or None to "
            f"disable the hot-spine probe); got {salt_partition_budget_rows}"
        )

    spine_cols = spine.columns
    names = [
        _out_name(v, f, full_feature_names) for v in feature_views for f in v.features
    ]
    collisions = sorted({n for n in names if names.count(n) > 1 or n in spine_cols})
    if collisions:
        # Feast's FeatureNameCollisionError: duplicate output columns would
        # otherwise reach the caller (or fail later as an ambiguous ref).
        raise ValueError(
            f"feature output names collide with each other or with spine "
            f"columns: {collisions} (set full_feature_names=True to prefix "
            f"them with the view name)"
        )

    if facts is None:
        facts = SpineFacts(spine, spine_timestamp_field)
    lo, hi, n_rows = facts.lo, facts.hi, facts.n_rows
    small_spine = n_rows <= auto_broadcast_rows
    salted_keys: set[tuple] = set()
    if strategy == "auto":
        # bucketed carve-out: when every view's source is bucketed on its
        # join keys, the broadcast range join's feature lineage needs no
        # exchange at all — strictly better than the melt, which unions
        # the spine in and thereby discards the bucketed distribution.
        # Only a broadcast-sized spine takes it: the gain is the broadcast
        # side's exchange-free feature lineage, and a larger spine would
        # run the shuffle side, whose hot keys AQE cannot split (module
        # docstring), so it melts even over bucketed sources.
        if feature_views and small_spine and all(map(_bucketed_on_keys, feature_views)):
            strategy = "range_join"
        else:
            strategy = "union_window"
            # Hot-spine escalation (round 7, VERDICT r6 item 3): a key
            # holding more spine rows than the partition budget would put
            # them ALL in one plain-melt window partition — the straggler/
            # OOM shape. Probe the spine's per-key histogram (one tiny
            # two-stage aggregate per distinct key set, skipped entirely
            # while total rows <= budget since no key can exceed the
            # total) and escalate THAT key set to the salted melt. Budget
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
                salted_keys = {
                    kt
                    for kt in dict.fromkeys(tuple(v.join_keys) for v in feature_views)
                    if facts.hot_key_max(list(kt)) > salt_partition_budget_rows
                }
    # Every builder reads the ORIGINAL spine. The first melt group melts
    # the spine itself and returns the spine with its features; every
    # other builder returns its winners (one row per distinct spine
    # (keys, ts)), joined back here. Feeding one builder's joined output
    # to the next as its spine would re-embed each earlier plan several
    # times over: exponential in views.
    winners: list[tuple[list[str], DataFrame]] = []
    melt_groups: dict[tuple, list[FeatureViewSpec]] = {}
    for view in feature_views:
        kt = tuple(view.join_keys)
        if strategy == "union_window_salted" or kt in salted_keys:
            winners.append((view.join_keys, _salted_melt_winners(
                spine, view, spine_timestamp_field, full_feature_names, lo, hi,
                prune_keys=small_spine, facts=facts,
            )))
        elif strategy == "union_window":
            melt_groups.setdefault(kt, []).append(view)
        else:
            winners.append((view.join_keys, _join_winners(
                view, spine_timestamp_field, full_feature_names, lo, hi,
                broadcast_spine=small_spine, facts=facts,
            )))
    out = spine
    for i, views in enumerate(melt_groups.values()):
        w = _melt_winners(
            spine, views, spine_timestamp_field, full_feature_names, lo, hi,
            prune_keys=small_spine, facts=facts, carry_spine=(i == 0),
        )
        if i == 0:
            out = w
        else:
            winners.append((views[0].join_keys, w))
    # Final LEFT joins of the other builders' winners — the spine is the
    # source of truth (:765-778). Joining on the real (keys, ts) columns
    # avoids the reference's synthetic concatenated row id and its
    # collision hazard (:611-619).
    for keys, w in winners:
        out = out.join(w, on=[*keys, spine_timestamp_field], how="left")
    # using-joins move join keys first and key-set groups join back in
    # group order: restore spine columns, then features in view order
    return out.select(*[_col(c) for c in [*spine_cols, *names]])


def _bucketed_on_keys(view: FeatureViewSpec) -> bool:
    """Whether the view's source comes out of its scan hash-partitioned on
    join keys alone (a table bucketed on them): its planned
    ``outputPartitioning`` is a ``HashPartitioning`` over attributes that
    ``field_mapping`` names as join keys. Planning runs no job. The
    ``sparkPlan``, not the ``executedPlan``: the preparation rule
    ``DisableUnnecessaryBucketedScan`` drops the bucketing of a bare scan
    that nothing above it uses yet."""
    part = view.source._jdf.queryExecution().sparkPlan().outputPartitioning()
    if part.getClass().getSimpleName() != "HashPartitioning":
        return False
    exprs = part.expressions()
    return all(
        e.getClass().getSimpleName() == "AttributeReference"
        and view.field_mapping.get(e.name(), e.name()) in view.join_keys
        for e in map(exprs.apply, range(exprs.size()))
    )


def _col(name: str):
    """The column called ``name``, whatever characters it holds."""
    return F.col("`" + name.replace("`", "``") + "`")


def _prepared_feature_side(arm: list[FeatureViewSpec], lo, hi) -> DataFrame:
    """Project + rename + TTL-bounded prefilter (reference subquery CTE
    ``:655-676``) of one melt arm — views that share a scan (``_arms``;
    the other strategies pass one view): upper bound
    ts <= max_spine_ts always; lower bound ts >= min_spine_ts - max(ttl)
    only when no view in the arm has TTL 0. The widest view's range is
    exact for every view because each one post-checks its own TTL. The
    range predicate is routed through filter_ts_range, on the source
    before its ``field_mapping`` rename and partition filter, so it
    reaches the parquet scan even on nanos-timestamp sources, and widens
    there to whole hours (``prefilter=True``, see the module docstring)."""
    import datetime as _dt

    from ..sources.reader import bound_date, filter_ts_range

    view = arm[0]
    lo_bound = None
    if lo is not None and all(v.ttl_seconds for v in arm):
        lo_bound = lo - _dt.timedelta(seconds=max(v.ttl_seconds for v in arm))
    # the range filter goes on the source as loaded, before any rename or
    # filter: a nanos source's raw-space pushdown rides only that frame
    src_ts = next(
        (c for c, m in view.field_mapping.items() if m == view.timestamp_field),
        view.timestamp_field,
    )
    feat = filter_ts_range(view.source, src_ts, lo_bound, hi, prefilter=True)
    if view.field_mapping:
        feat = feat.withColumnsRenamed(view.field_mapping)
    if view.date_partition_column is not None:
        # Reference :665-667 / :671-673: string compare on the partition
        # column using the date of the timestamp bounds — in the session
        # zone (a wall clock for NTZ), where the bounds' instants fall,
        # not the driver's. Day truncation only WIDENS the window (floor
        # of lo, day of hi), so results are unchanged; Catalyst prunes
        # directories.
        dpc = F.col(view.date_partition_column)
        ntz = isinstance(feat.schema[view.timestamp_field].dataType, TimestampNTZType)
        if hi is not None:
            feat = feat.filter(dpc <= bound_date(feat.sparkSession, hi, ntz))
        if lo_bound is not None:
            feat = feat.filter(dpc >= bound_date(feat.sparkSession, lo_bound, ntz))
    cols = [
        *view.join_keys,
        view.timestamp_field,
        *([view.created_timestamp_column] if view.created_timestamp_column else []),
        *_arm_features(arm),
    ]
    return feat.select(*dict.fromkeys(cols))


def _join_winners(
    view: FeatureViewSpec,
    spine_ts: str,
    full_feature_names: bool,
    lo,
    hi,
    broadcast_spine: bool,
    facts: SpineFacts,
) -> DataFrame:
    """As-of winners of one view by range join (``range_join``):
    the shared builder (``asof.asof_winners``), backward with the TTL as
    its tolerance and ``created`` DESC as its tiebreak (the reference's
    dedup/latest/cleaned CTE chain ``:703-756`` in one window), over the
    spine's distinct (keys, ts) — the per-view spine dedup CTE
    (``:626-636``) — so the join and window run once per unique
    entity/timestamp, not once per spine row. ``broadcast_spine`` (the
    spine is broadcast-sized) hints both the distinct spine and the
    winners."""
    spine_keys = facts.distinct([*view.join_keys, spine_ts])
    if broadcast_spine:
        spine_keys = F.broadcast(spine_keys)
    winners = asof_winners(
        spine_keys, _prepared_feature_side([view], lo, hi), view.join_keys,
        spine_ts, view.timestamp_field, view.features, "backward",
        view.ttl_seconds, view.created_timestamp_column,
    ).toDF(  # positional: a feature may share a key's or ts's name
        *view.join_keys, spine_ts,
        *[_out_name(view, f, full_feature_names) for f in view.features],
    )
    # at most one row per distinct spine (keys, ts): small
    return F.broadcast(winners) if broadcast_spine else winners


def _arm_features(arm: list[FeatureViewSpec]) -> list[str]:
    return list(dict.fromkeys(f for v in arm for f in v.features))


def _arms(views: list[FeatureViewSpec]) -> list[list[FeatureViewSpec]]:
    """Partition views on one join-key set into melt arms, in view order.
    Views share an arm (one scan, one payload) when their time, created
    and partition columns and their column names after ``field_mapping``
    are equal, and their sources' analyzed plans produce the same result
    (two loads of one path do; a pure rename does too, hence the
    column-name check)."""

    def layout(v: FeatureViewSpec) -> tuple:
        return (
            v.timestamp_field,
            v.created_timestamp_column,
            v.date_partition_column,
            [v.field_mapping.get(c, c) for c in v.source.columns],
        )

    def plan(v: FeatureViewSpec):
        return v.source._jdf.queryExecution().analyzed()

    arms: list[list[FeatureViewSpec]] = []
    for v in views:
        for arm in arms:
            if layout(arm[0]) == layout(v) and plan(arm[0]).sameResult(plan(v)):
                arm.append(v)
                break
        else:
            arms.append([v])
    return arms


def _melt(
    spine: DataFrame,
    arms: list[list[FeatureViewSpec]],
    spine_ts: str,
    lo,
    hi,
    prune_keys: bool,
    facts: SpineFacts | None = None,
    carry_spine: bool = False,
) -> DataFrame:
    """The melt both union-window strategies sort, for views on one
    join-key set: one tagged *arm* per distinct source (tag 0, payload
    ``__p<i>`` = matched ts + the arm's features, the other arms'
    payloads null) unioned with a spine arm (tag 1, null payloads), the
    spine timestamp and feature timestamps all renamed ``__ts``.

    The spine arm is the spine's distinct (keys, ts) rows, or, with
    ``carry_spine``, the spine's own rows: every row, duplicates too,
    with its other columns in one struct ``__spine`` so that no spine
    column name can meet the melt's own (``__ts``, ``__tag``, ``__p<i>``,
    ``__m<i>``). A key or the timestamp whose type the union would widen
    rides in ``__spine`` as well, so it comes back unchanged.

    ``prune_keys`` (round 4): broadcast LEFT SEMI the spine's key set onto
    the feature side before the melt. For a SELECTIVE spine (the typical
    retrieval: a few hundred entities against a huge history) this keeps
    the melt's window shuffle to the requested keys' rows instead of the
    whole corpus — without it the melt shuffles every feature row however
    small the spine, which local wall-clock forgives (shuffle ~ memcpy)
    but a 100 TB cluster does not. Enabled automatically when the caller
    knows the spine is broadcast-sized; harmless semantically (rows of
    keys absent from the spine can never match)."""
    keys = arms[0][0].join_keys
    facts = facts or SpineFacts(spine, spine_ts)
    if prune_keys:
        spine_keys = F.broadcast(facts.distinct(keys))
    parts = []
    for i, arm in enumerate(arms):
        view = arm[0]
        feat = _prepared_feature_side(arm, lo, hi)
        if prune_keys:
            feat = feat.join(spine_keys, on=keys, how="left_semi")

        # Pre-dedupe feature rows per (keys, ts): keep max created (folds
        # the reference's dedup CTE :703-712 into the melt).
        if view.created_timestamp_column:
            wdup = Window.partitionBy(*keys, view.timestamp_field).orderBy(
                F.col(view.created_timestamp_column).desc()
            )
            feat = (
                feat.withColumn("__rn", F.row_number().over(wdup))
                .filter(F.col("__rn") == 1)
                .drop("__rn", view.created_timestamp_column)
            )

        parts.append(feat.select(
            *keys,
            F.col(view.timestamp_field).alias("__ts"),
            F.lit(0).alias("__tag"),
            F.struct(
                F.col(view.timestamp_field).alias("__matched_ts"),
                *_arm_features(arm),
            ).alias(f"__p{i}"),
        ))
    if carry_spine:
        # keys and timestamp come back from the melt's own columns unless
        # an arm's type differs from the spine's and the union widens them
        own = {**{k: k for k in keys}, spine_ts: "__ts"}
        widened = {
            c for c, m in own.items() for p in parts
            if p.schema[m].dataType != spine.schema[c].dataType
        }
        carried = [c for c in spine.columns if c not in own or c in widened]
        spine_arm = spine.select(
            *keys,
            F.col(spine_ts).alias("__ts"),
            F.lit(1).alias("__tag"),
            F.struct(*map(_col, carried)).alias("__spine"),
        )
    else:
        spine_arm = facts.distinct([*keys, spine_ts]).select(
            *keys, F.col(spine_ts).alias("__ts"), F.lit(1).alias("__tag")
        )
    return functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), [*parts, spine_arm]
    )


def _ttl_checked_winners(
    arms: list[list[FeatureViewSpec]],
    spine_ts: str,
    full_feature_names: bool,
    matched: DataFrame,
    spine_cols: list[str] | None = None,
) -> DataFrame:
    """Finish a melt: ``matched`` holds one row per spine arm row (keys,
    ``__ts``) with each arm's carried match in ``__m<i>``. Each view
    nulls its arm's match when older than ``spine.ts - ttl`` (TTL != 0
    only). Returns the winners: keys, spine ts, and every view's
    features, for one join-back onto the spine.

    With ``spine_cols`` (a melt with ``carry_spine``) it returns the
    spine's columns instead, unpacked from ``__spine`` where they rode
    there, and a row whose key or timestamp is NULL gets NULL features,
    as the join-back it replaces would give it."""
    keys = arms[0][0].join_keys
    valid = None
    if spine_cols is not None:
        valid = functools.reduce(
            lambda a, b: a & b, [F.col(c).isNotNull() for c in [*keys, "__ts"]]
        )
    feats = []
    for i, arm in enumerate(arms):
        match = F.col(f"__m{i}")
        if valid is not None:
            match = F.when(valid, match)
        for view in arm:
            m = match
            if view.ttl_seconds:
                in_ttl = match["__matched_ts"] >= (
                    F.col("__ts") - F.expr(f"INTERVAL {view.ttl_seconds} SECOND")
                )
                m = F.when(in_ttl, match)
            feats += [
                m[c].alias(_out_name(view, c, full_feature_names))
                for c in view.features
            ]
    if spine_cols is None:
        return matched.select(*keys, F.col("__ts").alias(spine_ts), *feats)
    carried = set(matched.schema["__spine"].dataType.fieldNames())

    def spine_col(c: str):
        if c in carried:
            return F.col("__spine").getField(c).alias(c)
        return F.col("__ts").alias(c) if c == spine_ts else _col(c)

    return matched.select(*map(spine_col, spine_cols), *feats)


def _melt_winners(
    spine: DataFrame,
    views: list[FeatureViewSpec],
    spine_ts: str,
    full_feature_names: bool,
    lo,
    hi,
    prune_keys: bool = False,
    facts: SpineFacts | None = None,
    carry_spine: bool = False,
) -> DataFrame:
    """Melt as-of winners of every view on one join-key set: one
    equi-shuffle on the entity keys, one window, no range join; the caller
    joins them back onto the spine once. With ``carry_spine`` the spine's
    own rows ride the melt (``_melt``) and the window emits the result
    rows themselves — the spine's columns and the views' features, in
    key-partition order — so nothing is joined back.

    Sort each key partition of the melt (``_melt``) by (ts, tag) and carry
    each arm's latest feature row forward with ``last(__p<i>,
    ignorenulls=True)`` — all arms in one window spec, so Spark plans one
    Window over one Exchange. A feature row at exactly the spine timestamp
    sorts BEFORE the spine row (tag 0 < 1), preserving the inclusive
    ``<=`` bound. TTL is enforced afterwards, per view, by nulling matches
    whose timestamp is older than ``spine.ts - ttl``."""
    arms = _arms(views)
    melted = _melt(spine, arms, spine_ts, lo, hi, prune_keys, facts, carry_spine)
    w = (
        Window.partitionBy(*views[0].join_keys)
        .orderBy(F.col("__ts").asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = melted.select(
        *views[0].join_keys,
        "__ts",
        "__tag",
        *(["__spine"] if carry_spine else []),
        *[
            F.last(f"__p{i}", ignorenulls=True).over(w).alias(f"__m{i}")
            for i in range(len(arms))
        ],
    ).filter(F.col("__tag") == 1)
    return _ttl_checked_winners(
        arms, spine_ts, full_feature_names, carried,
        spine.columns if carry_spine else None,
    )


def _salted_melt_winners(
    spine: DataFrame,
    view: FeatureViewSpec,
    spine_ts: str,
    full_feature_names: bool,
    lo,
    hi,
    salt_bucket_seconds: int = 86400,
    prune_keys: bool = False,
    facts: SpineFacts | None = None,
) -> DataFrame:
    """Melt as-of winners of one view SALTED by time bucket — the hot-key
    scale path.

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
    arms = [[view]]
    melted = _melt(spine, arms, spine_ts, lo, hi, prune_keys, facts)
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
        "__within", F.last("__p0", ignorenulls=True).over(w_in)
    )

    # phase 2: one summary row per (key, bucket) = the bucket's last
    # feature payload; carry-in = last summary over EARLIER buckets
    bucket_last = (
        melted.filter(F.col("__tag") == 0)
        .groupBy(*view.join_keys, "__bucket")
        .agg(F.max_by("__p0", "__ts").alias("__bucket_payload"))
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
        .withColumn("__m0", F.coalesce(F.col("__within"), F.col("__carry_in")))
    )
    return _ttl_checked_winners(arms, spine_ts, full_feature_names, merged)
