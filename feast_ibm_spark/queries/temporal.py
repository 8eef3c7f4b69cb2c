"""Split from the round-4 queries.py monolith; see queries/__init__.py."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from .core import PIT_TTL, _pit_spine  # noqa: F401

# PIT join over a date-partitioned feature layout: FeatureViewSpec's
# date_partition_column injects string partition predicates beside the TTL
# prefilter (reference :665-667, :671-673), so the scan prunes whole day
# directories, not just row groups. Same semantics — and the same oracle —
# as pit_join_ttl (day truncation only widens the bound).
# --------------------------------------------------------------------------


def q_pit_join_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    part_ev = spark.read.parquet(_partitioned_events_path(spark, sf_dir))
    spine = _pit_spine(ev)
    view = FeatureViewSpec(
        name="user_events",
        source=part_ev,
        join_keys=["user_id"],
        features=["value", "event_type"],
        timestamp_field="ts",
        created_timestamp_column="event_id",
        ttl_seconds=PIT_TTL,
        date_partition_column="day",
    )
    return point_in_time_join(spine, [view])


# --------------------------------------------------------------------------
# Generic as-of join: the PIT operator is the Feast-shaped BACKWARD as-of
# join (reference :686); forward ("first observation at-or-after") and
# nearest ("closest within a window") are its mirror images, exposed by
# operators/asof.py with merge_asof-style semantics. Same spine, same
# feature table, same rn=1 window physical shape — opposite inequalities.
# --------------------------------------------------------------------------


def _asof_query(spark, sf_dir, direction):
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    spine = _pit_spine(ev)
    return asof_join(
        spine,
        ev,
        on=["user_id"],
        left_ts="event_timestamp",
        right_ts="ts",
        right_columns=["value", "event_type"],
        direction=direction,
        tolerance_seconds=86400,
        tiebreak="event_id",
    )


def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _asof_query(spark, sf_dir, "forward")


def q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _asof_query(spark, sf_dir, "nearest")


def _oracle_asof(range_clause: str, order_clause: str) -> str:
    return f"""
WITH agg AS (
  SELECT user_id, min(ts) AS mn, max(ts) AS mx FROM events GROUP BY user_id
),
spine AS (
  SELECT user_id, mn + INTERVAL 12 HOUR AS event_timestamp FROM agg
  UNION ALL
  SELECT user_id, mx - INTERVAL 3 DAY FROM agg
),
cand AS (
  SELECT s.user_id, s.event_timestamp, f.value, f.event_type,
         row_number() OVER (
           PARTITION BY s.user_id, s.event_timestamp
           ORDER BY {order_clause}
         ) AS rn
  FROM spine s
  JOIN events f
    ON s.user_id = f.user_id
   {range_clause}
)
SELECT s.user_id, s.event_timestamp, c.value, c.event_type
FROM spine s
LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
  USING (user_id, event_timestamp)
"""


ORACLE_ASOF_FORWARD = _oracle_asof(
    "AND f.ts >= s.event_timestamp "
    "AND f.ts <= s.event_timestamp + INTERVAL 1 DAY",
    "f.ts ASC, f.event_id DESC",
)
# nearest distance compared in exact integer microseconds on both engines
# (unix_micros / epoch_us) — no float rounding can flip the ordering; ties
# resolve to the earlier row, then event_id DESC.
ORACLE_ASOF_NEAREST = _oracle_asof(
    "AND f.ts >= s.event_timestamp - INTERVAL 1 DAY "
    "AND f.ts <= s.event_timestamp + INTERVAL 1 DAY",
    "abs(epoch_us(f.ts) - epoch_us(s.event_timestamp)) ASC, "
    "f.ts ASC, f.event_id DESC",
)


# --------------------------------------------------------------------------
# Bucketed range join: shipments counted into keyless 7-day order windows.
# A naive `ON l_shipdate BETWEEN s AND e` join plans as
# BroadcastNestedLoopJoin — O(|lineitem| x |orders|) comparisons; the
# operator quantizes the date axis to integer weeks so it becomes a plain
# hash join on the bucket id + an exact residual filter (see
# operators/interval.py). Orders with no shipment in-window survive with 0
# via the join-back.
# --------------------------------------------------------------------------


def q_range_join_ship_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.interval import range_join

    epoch = F.lit("1970-01-01")
    points = (
        _t(spark, sf_dir, "lineitem")
        .select(F.datediff(F.col("l_shipdate"), epoch).alias("ship_day"))
    )
    orders = _t(spark, sf_dir, "orders")
    ivals = orders.select(
        F.col("o_orderkey").alias("win_orderkey"),
        F.datediff(F.col("o_orderdate"), epoch).alias("win_start"),
        (F.datediff(F.col("o_orderdate"), epoch) + F.lit(6)).alias("win_end"),
    )
    matched = range_join(
        points, ivals, "ship_day", "win_start", "win_end",
        bucket=7, broadcast_intervals=True,
    )
    per_win = matched.groupBy("win_orderkey").agg(
        F.count(F.lit(1)).alias("n_shipments")
    )
    return (
        orders.select("o_orderkey")
        .join(per_win, orders["o_orderkey"] == per_win["win_orderkey"], "left")
        .select(
            "o_orderkey",
            F.coalesce("n_shipments", F.lit(0)).alias("n_shipments"),
        )
    )


def q_range_join_auto_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The range join with the DATA-DRIVEN bucket width (round 12,
    VERDICT r11 item 6): ``bucket=None`` makes the operator sample the
    interval lengths and take ~p95 (here every window is 7 days long,
    so auto lands on 7 — exactly what the hand-tuned sibling
    ``range_join_ship_windows`` hardcodes). Same oracle, same result
    set: the bucket width is a physical knob, never a semantic one —
    both the explode factor and the candidate set change, the exact
    containment filter keeps the answer fixed. The A/B against
    deliberately bad manual widths is in NOTES.md "Measured artifacts
    (whale/flood taxonomy additions)"."""
    from ..operators.interval import range_join

    epoch = F.lit("1970-01-01")
    points = (
        _t(spark, sf_dir, "lineitem")
        .select(F.datediff(F.col("l_shipdate"), epoch).alias("ship_day"))
    )
    orders = _t(spark, sf_dir, "orders")
    ivals = orders.select(
        F.col("o_orderkey").alias("win_orderkey"),
        F.datediff(F.col("o_orderdate"), epoch).alias("win_start"),
        (F.datediff(F.col("o_orderdate"), epoch) + F.lit(6)).alias("win_end"),
    )
    matched = range_join(
        points, ivals, "ship_day", "win_start", "win_end",
        bucket=None, broadcast_intervals=True,
    )
    per_win = matched.groupBy("win_orderkey").agg(
        F.count(F.lit(1)).alias("n_shipments")
    )
    return (
        orders.select("o_orderkey")
        .join(per_win, orders["o_orderkey"] == per_win["win_orderkey"], "left")
        .select(
            "o_orderkey",
            F.coalesce("n_shipments", F.lit(0)).alias("n_shipments"),
        )
    )


ORACLE_RANGE_JOIN = """
WITH m AS (
  SELECT o.o_orderkey, count(*) AS n
  FROM orders o
  JOIN lineitem l
    ON l.l_shipdate >= o.o_orderdate
   AND l.l_shipdate <= o.o_orderdate + INTERVAL 6 DAY
  GROUP BY 1
)
SELECT o.o_orderkey, CAST(coalesce(m.n, 0) AS BIGINT) AS n_shipments
FROM orders o LEFT JOIN m USING (o_orderkey)
"""


# --------------------------------------------------------------------------
# Hypertable-style OHLC rollup: one hash aggregate produces
# open/high/low/close per (user, day) — open/close via min_by/max_by over
# the (ts, event_id) struct (deterministic: event_id is unique), revenue
# accumulated in exact integer cents. The continuous-aggregate shape every
# time-series store materializes; here it is ONE shuffle on the group key.
# --------------------------------------------------------------------------


def q_rollup_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    o = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(
            # day as a string: Spark DATE surfaces as python date objects
            # while DuckDB DATE becomes datetime64 — the compare would
            # flag the dtype, not the value (same reason the other
            # day-grouped queries use strings)
            F.col("user_id"), F.date_format("ts", "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.min_by("value", o).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", o).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents("value")).alias("sum_cents"),
        )
    )


ORACLE_OHLC = """
SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
       first(value ORDER BY ts, event_id) AS open,
       max(value) AS high,
       min(value) AS low,
       last(value ORDER BY ts, event_id) AS close,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Fixed-bound histogram: bucket id from exact float division (identical
# IEEE op on both engines — no width_bucket dialect dependence), counts and
# integer-cents mass per bucket. One map-side-combinable aggregate.
# --------------------------------------------------------------------------

_HIST_WIDTH = 20


def q_agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.floor(F.col("value") / _HIST_WIDTH)).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_cents("value")).alias("sum_cents"),
            F.min("value").alias("lo_value"),
            F.max("value").alias("hi_value"),
        )
    )


ORACLE_HISTOGRAM = f"""
SELECT CAST(floor(value / {_HIST_WIDTH}) AS BIGINT) AS bucket,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       min(value) AS lo_value,
       max(value) AS hi_value
FROM events
GROUP BY 1
"""


# --------------------------------------------------------------------------
# IQR outlier filter: per-group exact interpolated quartiles (Spark
# `percentile` bit-matches DuckDB `quantile_cont` — see NOTES.md), Tukey
# fences computed with the same double ops on both engines, then a
# broadcast join of the 5-row fence table back onto the stream. The
# data-cleaning primitive for value columns at ingest.
# --------------------------------------------------------------------------


def q_filter_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    fences = (
        ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.25D)").alias("q1"),
            F.expr("percentile(value, 0.75D)").alias("q3"),
        )
        .select(
            "event_type",
            (F.col("q1") - (F.col("q3") - F.col("q1")) * F.lit(1.5)).alias("lo"),
            (F.col("q3") + (F.col("q3") - F.col("q1")) * F.lit(1.5)).alias("hi"),
        )
    )
    return (
        ev.join(F.broadcast(fences), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")))
                .cast("long")
            ).alias("n_outliers"),
            F.min(
                F.when(
                    (F.col("value") >= F.col("lo")) & (F.col("value") <= F.col("hi")),
                    F.col("value"),
                )
            ).alias("kept_min"),
            F.max(
                F.when(
                    (F.col("value") >= F.col("lo")) & (F.col("value") <= F.col("hi")),
                    F.col("value"),
                )
            ).alias("kept_max"),
        )
    )


ORACLE_OUTLIERS = """
WITH fences AS (
  SELECT event_type,
         quantile_cont(value, 0.25) - (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) * 1.5 AS lo,
         quantile_cont(value, 0.75) + (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) * 1.5 AS hi
  FROM events GROUP BY 1
)
SELECT e.event_type,
       count(*) AS n_total,
       CAST(sum(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       min(CASE WHEN e.value BETWEEN f.lo AND f.hi THEN e.value END) AS kept_min,
       max(CASE WHEN e.value BETWEEN f.lo AND f.hi THEN e.value END) AS kept_max
FROM events e JOIN fences f USING (event_type)
GROUP BY 1
"""


# --------------------------------------------------------------------------


EQUIDEPTH_BINS = 4


def q_agg_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) histogram per event_type — the
    value-distribution summary optimizers and drift monitors keep: 4
    ntile buckets over a TOTAL order (cents, then event_id so ties
    split deterministically), each reporting its min/max/count/sum.
    The fixed-bound twin is agg_value_histogram; equi-depth adapts bin
    edges to the data. One keyed window + one grouped aggregate."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        _cents("value").asc(), F.col("event_id").asc()
    )
    binned = ev.select(
        "event_type",
        _cents("value").alias("__c"),
        F.ntile(EQUIDEPTH_BINS).over(w).alias("bin"),
    )
    return (
        binned.groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.min("__c").cast("double") / 100.0).alias("lo"),
            (F.max("__c").cast("double") / 100.0).alias("hi"),
            (F.sum("__c").cast("double") / 100.0).alias("bin_sum"),
        )
        .select("event_type", F.col("bin").cast("bigint").alias("bin"),
                "n", "lo", "hi", "bin_sum")
    )


ORACLE_EQUIDEPTH = f"""
WITH binned AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS c,
         ntile({EQUIDEPTH_BINS}) OVER (
           PARTITION BY event_type
           ORDER BY CAST(round(value * 100) AS BIGINT), event_id) AS bin
  FROM events
)
SELECT event_type, CAST(bin AS BIGINT) AS bin,
       COUNT(*) AS n,
       CAST(MIN(c) AS DOUBLE) / 100.0 AS lo,
       CAST(MAX(c) AS DOUBLE) / 100.0 AS hi,
       CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) / 100.0 AS bin_sum
FROM binned GROUP BY 1, 2
"""


def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval union per supplier: each line item
    occupies a handling window [shipdate, shipdate + quantity days]
    (this testdata carries no receiptdate; the quantity-proportional
    end gives varied, heavily overlapping spans); merge each
    supplier's windows into islands and report how many islands
    remain, how many raw intervals they absorbed, and the total
    covered days — "how much of the calendar is this supplier actually
    mid-shipment", the classic coverage/utilization question (machine
    uptime, policy coverage, session span union). One window shuffle
    on (suppkey, start) flags island breaks via the running max end
    date (operators/interval.merge_intervals — break flags are
    provably independent of ordering among equal starts, so the result
    is engine-exact with no tie-break column), then one aggregate
    rolls islands up per supplier. The oracle runs the same two-window
    algebra in SQL."""
    from ..operators.interval import merge_intervals

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.to_date("l_shipdate").alias("w_start"),
        F.date_add(
            F.to_date("l_shipdate"), F.col("l_quantity").cast("int")
        ).alias("w_end"),
    )
    islands = merge_intervals(li, ["l_suppkey"], "w_start", "w_end")
    return islands.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("n_merged").alias("n_intervals"),
        F.sum(
            F.datediff("island_end", "island_start") + F.lit(1)
        ).cast("bigint").alias("covered_days"),
    )


ORACLE_INTERVAL_COVERAGE = """
WITH spans AS (
  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS s,
         CAST(l_shipdate AS DATE) + CAST(l_quantity AS INT) AS e
  FROM lineitem
),
flagged AS (
  SELECT l_suppkey, s, e,
         CASE WHEN s > COALESCE(
             MAX(e) OVER (
               PARTITION BY l_suppkey ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             e)
           THEN 1 ELSE 0 END AS brk
  FROM spans
),
islands AS (
  SELECT l_suppkey, s, e,
         SUM(brk) OVER (
           PARTITION BY l_suppkey ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM flagged
),
merged AS (
  SELECT l_suppkey, isl, MIN(s) AS island_start, MAX(e) AS island_end,
         COUNT(*) AS n_merged
  FROM islands GROUP BY l_suppkey, isl
)
SELECT l_suppkey,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(n_merged) AS BIGINT) AS n_intervals,
       CAST(SUM(island_end - island_start + 1) AS BIGINT) AS covered_days
FROM merged GROUP BY l_suppkey
"""
