"""Generic as-of join: backward / forward / nearest with tolerance.

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

Physical plan (same scale playbook as the PIT join): the right side is
prefiltered to ``[min(left.ts) - t, max(left.ts) + t]`` via
``filter_ts_range`` so the bound reaches the parquet scan. The bounds
widen outward to whole hours (``prefilter=True``): codegen inlines them
as literals into the compiled scan, and whole-hour literals let joins
whose bounds share their hours reuse the compiled classes. The candidate
join's own range condition keeps the result exact. The deduped
``(keys, ts)`` left side is hint-broadcast (strategy ``broadcast``) so the
candidate join is a BroadcastHashJoin on the keys with the range predicate
applied post-join, followed by ONE rn=1 window — Spark 4 plants a
map-side Partial WindowGroupLimit before the window's exchange, so at most
one candidate per (key, ts) group per task crosses the wire. Strategy
``shuffle`` drops the hint and lets AQE choose from runtime sizes when the
left side outgrows a broadcast.

Timestamp arithmetic is done in exact INTERVAL subtraction (day-time
intervals carry integer microseconds) — never float seconds — so the
nearest-distance comparison cannot tie-flip from floating-point
rounding, and TIMESTAMP_NTZ inputs stay zone-free (``unix_micros``
would cast them through the session zone, which is non-monotone
across DST gaps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.reader import filter_ts_range

_DIRECTIONS = ("backward", "forward", "nearest")


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
    strategy: str = "broadcast",
) -> DataFrame:
    """As-of join ``right`` onto ``left``.

    ``right_columns`` are the payload columns carried to the output (the
    matched ``right_ts`` itself can be included by listing it). ``on`` may
    be empty for a keyless (global-timeline) as-of join. ``tiebreak``
    names a unique right column ordering equal-distance / equal-timestamp
    candidates (descending); required for deterministic output when
    ``right_ts`` is not unique per key.
    """
    if direction not in _DIRECTIONS:
        raise ValueError(f"direction must be one of {_DIRECTIONS}")
    if direction == "nearest" and not tolerance_seconds:
        raise ValueError("nearest requires a tolerance_seconds bound")
    if strategy not in ("broadcast", "shuffle"):
        raise ValueError(f"unknown strategy: {strategy}")

    import datetime as _dt

    tol = _dt.timedelta(seconds=tolerance_seconds)
    row = left.agg(F.min(left_ts).alias("lo"), F.max(left_ts).alias("hi")).first()
    lo, hi = row["lo"], row["hi"]

    # Prefilter the right side to the reachable window before the join —
    # the same TTL rewrite the PIT join keeps (reference :664-674): at
    # 100 TB this is the difference between scanning a day and a decade.
    r_lo = r_hi = None
    if lo is not None and hi is not None:
        if direction == "backward":
            # reachable: [lo - tol (only bounded when tol set), hi]
            r_lo, r_hi = (lo - tol if tolerance_seconds else None), hi
        elif direction == "forward":
            r_lo, r_hi = lo, (hi + tol if tolerance_seconds else None)
        else:  # nearest (tolerance required above)
            r_lo, r_hi = lo - tol, hi + tol
    r = filter_ts_range(right, right_ts, r_lo, r_hi, prefilter=True)

    keep = list(dict.fromkeys(
        [*on, right_ts, *([tiebreak] if tiebreak else []), *right_columns]
    ))
    r = r.select(*keep)

    key_ts = [*on, left_ts]
    left_keys = left.select(*key_ts).distinct()
    if strategy == "broadcast":
        left_keys = F.broadcast(left_keys)

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
        # zone-free for TIMESTAMP_NTZ (round-7 review — unix_micros
        # casts NTZ through the session zone)
        dist = F.abs(rts - lts)
        order = [dist.asc(), rts.asc()]
    if tiebreak:
        order.append(F.col(f"r.{tiebreak}").desc())

    for k in on:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))

    cand = left_keys.alias("l").join(r.alias("r"), cond, "inner")
    w = Window.partitionBy(*[F.col(f"l.{c}") for c in key_ts]).orderBy(*order)
    winners = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *[F.col(f"l.{c}").alias(c) for c in key_ts],
            *[F.col(f"r.{c}").alias(c) for c in right_columns],
        )
    )
    # At most one winner row per distinct (keys, ts): broadcast the
    # join-back so left never shuffles (mirrors pit_join's final join).
    return left.join(F.broadcast(winners), on=key_ts, how="left")
