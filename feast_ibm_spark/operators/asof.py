"""Generic as-of join: backward / forward / nearest with tolerance, and
the as-of core it shares with the PIT join.

The PIT operator (``pit_join.py``) is the Feast-shaped backward as-of join
(reference Jinja template ``ibm_data_engine/data_engine_offline_store.py:
601-779``). Time-series users of the reference also express the two
mirror-image shapes — "first observation at-or-after" (forward) and
"closest observation within a window" (nearest) — by flipping the
inequality in the template's as-of predicate (``:686``). This module is
that generalization as one operator, with ``pandas.merge_asof``-style
semantics:

- ``backward``: greatest ``right.ts <= left.ts``; with tolerance ``t``,
  also ``right.ts >= left.ts - t``.
- ``forward``:  smallest ``right.ts >= left.ts``; with tolerance ``t``,
  also ``right.ts <= left.ts + t``.
- ``nearest``:  minimal ``|right.ts - left.ts|`` with ``|diff| <= t``
  (tolerance required — an unbounded nearest cannot be prefiltered and
  would force a full-history candidate set per row). Ties on ``|diff|``
  (one match exactly t before and one exactly t after) resolve to the
  EARLIER right row (the backward candidate), then by the unique
  ``tiebreak`` column descending — fully deterministic.

Every left row survives (LEFT join), NULL right columns on no match —
same spine-preservation contract as the PIT join (reference ``:765-778``).

Both as-of operators share this module's core: ``SpineFacts``, the one
spine probe, ``asof_winners``, the one range-join builder (the PIT
``range_join`` strategy calls it backward, TTL as tolerance), and
``BROADCAST_ROWS``, the spine size up to which both broadcast it.

Physical plan (same scale playbook as the PIT join): the right side is
prefiltered to ``[min(left.ts) - t, max(left.ts) + t]`` via
``filter_ts_range`` so the bound reaches the parquet scan. The bounds
widen outward to whole hours (``prefilter=True``): codegen inlines them
as literals into the compiled scan, and whole-hour literals let joins
whose bounds share their hours reuse the compiled classes. The candidate
join's own range condition keeps the result exact. A left side of at
most ``BROADCAST_ROWS`` rows (its count comes from the same aggregate as
the bounds, so sizing costs no job) has its deduped ``(keys, ts)``
hint-broadcast, so the candidate join is a BroadcastHashJoin on the keys
with the range predicate applied post-join, followed by ONE rn=1 window —
Spark 4 plants a map-side Partial WindowGroupLimit before the window's
exchange, so at most one candidate per (key, ts) group per task crosses
the wire; the winners (one row per distinct left (keys, ts)) are
hint-broadcast into the final LEFT join too. A larger left side hints
neither join and lets AQE choose from runtime sizes.

Timestamp arithmetic is done in exact INTERVAL subtraction (day-time
intervals carry integer microseconds) — never float seconds — so the
nearest-distance comparison cannot tie-flip from floating-point
rounding, and TIMESTAMP_NTZ inputs stay zone-free (``unix_micros``
would cast them through the session zone, which is non-monotone
across DST gaps).
"""

from __future__ import annotations

import functools
from datetime import timedelta, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType
from pyspark.sql.window import Window

from ..sources.reader import filter_ts_range

_DIRECTIONS = ("backward", "forward", "nearest")

# Spine (left side) rows up to which the as-of range join broadcasts it;
# also the default of ``point_in_time_join(auto_broadcast_rows=)``.
BROADCAST_ROWS = 5_000_000


class SpineFacts:
    """What an as-of join needs to know about its spine (left side):
    ``lo``/``hi`` (min/max spine timestamp, for the prefilter), ``n_rows``
    (the PIT key prune and salt gates), ``hot_key_max(keys)`` (the salt
    gate) and ``distinct(cols)`` (the spine's distinct ``cols`` rows: its
    keys for the melt's key prune, its ``(keys, ts)`` for the builders
    that return winners).

    ``lo``/``hi`` are instants, like the reference's
    ``pd.to_datetime(..., utc=True)`` range (``:584-585``): aware UTC
    datetimes for a TIMESTAMP spine, wall clocks for TIMESTAMP_NTZ, so
    ``lo - ttl`` is exact in any driver zone. Spark collects a TIMESTAMP
    as a naive driver-zone datetime (``fold`` set on a repeated hour),
    which ``astimezone`` reads back exactly.

    This form asks Spark: one tiny aggregate for ``lo``/``hi``/``n_rows``,
    run at most once; one two-stage aggregate per ``hot_key_max``;
    ``distinct`` is planned into the join. ``store._ensure_spine`` passes
    a subclass that answers from a pandas spine's rows instead."""

    def __init__(self, spine: DataFrame, ts_col: str):
        self.spine = spine
        self.ts_col = ts_col

    @functools.cached_property
    def _range(self) -> tuple:
        row = self.spine.agg(
            F.min(self.ts_col).alias("lo"),
            F.max(self.ts_col).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        lo, hi = row["lo"], row["hi"]
        if lo is not None and isinstance(
            self.spine.schema[self.ts_col].dataType, TimestampType
        ):
            lo, hi = lo.astimezone(timezone.utc), hi.astimezone(timezone.utc)
        return lo, hi, row["n"]

    @property
    def lo(self):
        return self._range[0]

    @property
    def hi(self):
        return self._range[1]

    @property
    def n_rows(self) -> int:
        return self._range[2]

    def hot_key_max(self, keys: list[str]) -> int:
        """Max spine rows on any single key combination: per-key counts
        combine map-side, the reduce is one max over a row per key."""
        row = self.spine.groupBy(*keys).count().agg(F.max("count").alias("m")).first()
        return int(row["m"] or 0)

    def distinct(self, cols: list[str]) -> DataFrame:
        return self.spine.select(*cols).distinct()


def asof_winners(
    left_keys: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_columns: list[str],
    direction: str = "backward",
    tolerance_seconds: int = 0,
    tiebreak: str | None = None,
) -> DataFrame:
    """The as-of range join: the winning ``right`` row of each matched
    ``left_keys`` row (the distinct left ``(on, left_ts)``, hinted by the
    caller) as columns ``on``, ``left_ts``, ``right_columns``, in order —
    for the caller to LEFT join back. Candidates pass the direction's
    range (``tolerance_seconds`` 0 leaves backward/forward unbounded) and
    ONE rn=1 window per ``(on, left_ts)`` ranks them."""
    tol = timedelta(seconds=tolerance_seconds)
    r = right.select(*dict.fromkeys(
        [*on, right_ts, *([tiebreak] if tiebreak else []), *right_columns]
    ))
    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    if direction == "backward":
        cond = rts <= lts
        if tolerance_seconds:
            cond = cond & (rts >= lts - F.lit(tol))
        order = [rts.desc()]
    elif direction == "forward":
        cond = rts >= lts
        if tolerance_seconds:
            cond = cond & (rts <= lts + F.lit(tol))
        order = [rts.asc()]
    else:  # nearest
        cond = (rts >= lts - F.lit(tol)) & (rts <= lts + F.lit(tol))
        # interval abs, not unix_micros: exact micros for TIMESTAMP and
        # zone-free for TIMESTAMP_NTZ (unix_micros casts NTZ through the
        # session zone)
        order = [F.abs(rts - lts).asc(), rts.asc()]
    if tiebreak:
        order.append(F.col(f"r.{tiebreak}").desc())
    for k in on:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))

    key_ts = [*on, left_ts]
    cand = left_keys.alias("l").join(r.alias("r"), cond, "inner")
    w = Window.partitionBy(*[F.col(f"l.{c}") for c in key_ts]).orderBy(*order)
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *[F.col(f"l.{c}").alias(c) for c in key_ts],
            *[F.col(f"r.{c}").alias(c) for c in right_columns],
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_columns: list[str],
    direction: str = "backward",
    tolerance_seconds: int = 0,
    tiebreak: str | None = None,
) -> DataFrame:
    """As-of join ``right`` onto ``left``.

    ``right_columns`` are the payload columns carried to the output (the
    matched ``right_ts`` itself can be included by listing it). ``on`` may
    be empty for a keyless (global-timeline) as-of join. ``tiebreak``
    names a unique right column ordering equal-distance / equal-timestamp
    candidates (descending); required for deterministic output when
    ``right_ts`` is not unique per key. A left side of at most
    ``BROADCAST_ROWS`` rows is broadcast (module docstring).
    """
    if direction not in _DIRECTIONS:
        raise ValueError(f"direction must be one of {_DIRECTIONS}")
    if direction == "nearest" and not tolerance_seconds:
        raise ValueError("nearest requires a tolerance_seconds bound")

    facts = SpineFacts(left, left_ts)
    lo, hi = facts.lo, facts.hi
    broadcast = facts.n_rows <= BROADCAST_ROWS
    tol = timedelta(seconds=tolerance_seconds)

    # Prefilter the right side to the reachable window before the join —
    # the same TTL rewrite the PIT join keeps (reference :664-674): at
    # 100 TB this is the difference between scanning a day and a decade.
    # Reachable: [lo - tol, hi] backward, [lo, hi + tol] forward, both
    # widenings for nearest; without a tolerance that side stays open.
    r_lo = r_hi = None
    if lo is not None:
        bounded = bool(tolerance_seconds)
        r_lo = lo if direction == "forward" else (lo - tol if bounded else None)
        r_hi = hi if direction == "backward" else (hi + tol if bounded else None)
    r = filter_ts_range(right, right_ts, r_lo, r_hi, prefilter=True)

    key_ts = [*on, left_ts]
    left_keys = facts.distinct(key_ts)
    if broadcast:
        left_keys = F.broadcast(left_keys)
    winners = asof_winners(
        left_keys, r, on, left_ts, right_ts, right_columns,
        direction, tolerance_seconds, tiebreak,
    )
    if broadcast:
        # at most one winner row per distinct (keys, ts): left never
        # shuffles for the join-back
        winners = F.broadcast(winners)
    return left.join(winners, on=key_ts, how="left")
