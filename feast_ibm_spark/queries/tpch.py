"""Split from the round-4 queries.py monolith; see queries/__init__.py."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403

# Scan + filter + projection over a dimension table (S2/P1/F-pushdown)
# --------------------------------------------------------------------------


def q_scan_part_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return (
        part.filter((F.col("p_size") >= 25) & (F.col("p_brand") == "Brand#13"))
        .select("p_partkey", "p_name", "p_size", "p_retailprice")
    )


ORACLE_SCAN_PART = """
SELECT p_partkey, p_name, p_size, p_retailprice
FROM part WHERE p_size >= 25 AND p_brand = 'Brand#13'
"""

# --------------------------------------------------------------------------
# Analytics: aggregation pipeline (TPC-H Q1 shape) — scaled-integer sums
#
# Money columns in the testdata are exact 2-decimal values (verified:
# round(x*100) is integral for every row), so sums accumulate in BIGINT
# "cents" — order-independent, overflow-safe to ~10^18, and identical in
# every engine; doubles appear only in one final division. This also
# avoids double->decimal cast-rounding differences between engines.
# --------------------------------------------------------------------------


def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cents = _cents("l_extendedprice")
    disc = _cents("l_discount")
    tax = _cents("l_tax")
    qty = F.round(F.col("l_quantity")).cast("bigint")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            (F.sum(cents).cast("double") / 100.0).alias("sum_base_price"),
            (F.sum(cents * (100 - disc)).cast("double") / 10000.0).alias("sum_disc_price"),
            (F.sum(cents * (100 - disc) * (100 + tax)).cast("double") / 1000000.0).alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(disc).cast("double") / 100.0 / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_L_CENTS = "CAST(round(l_extendedprice * 100) AS BIGINT)"
_L_DISC = "CAST(round(l_discount * 100) AS BIGINT)"
_L_TAX = "CAST(round(l_tax * 100) AS BIGINT)"
_L_QTY = "CAST(round(l_quantity) AS BIGINT)"

ORACLE_AGG_PRICING = f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM({_L_QTY}) AS DOUBLE) AS sum_qty,
  CAST(SUM({_L_CENTS}) AS DOUBLE) / 100.0 AS sum_base_price,
  CAST(SUM({_L_CENTS} * (100 - {_L_DISC})) AS DOUBLE) / 10000.0 AS sum_disc_price,
  CAST(SUM({_L_CENTS} * (100 - {_L_DISC}) * (100 + {_L_TAX})) AS DOUBLE) / 1000000.0 AS sum_charge,
  CAST(SUM({_L_QTY}) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM({_L_DISC}) AS DOUBLE) / 100.0 / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

# --------------------------------------------------------------------------
# Analytics: pure scan-aggregate (TPC-H Q6 shape) — the pushdown showcase:
# all three predicates reach the parquet scan, no join, no shuffle beyond
# the final 1-row agg
# --------------------------------------------------------------------------


def q_agg_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.02, 0.04))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(_cents("l_extendedprice") * _cents("l_discount"))
             .cast("double") / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


ORACLE_AGG_REVENUE = f"""
SELECT CAST(SUM({_L_CENTS} * {_L_DISC}) AS DOUBLE) / 10000.0 AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.04
  AND l_quantity < 24
"""

# --------------------------------------------------------------------------
# Analytics: grouped distinct-count + exact value stats over the event
# table (the COUNT(DISTINCT) expand/shuffle path; money in cents)
# --------------------------------------------------------------------------


def q_agg_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(cents).cast("double") / 100.0).alias("sum_value"),
        (F.min(cents).cast("double") / 100.0).alias("min_value"),
        (F.max(cents).cast("double") / 100.0).alias("max_value"),
    )


ORACLE_EVENT_TYPE_STATS = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value,
       CAST(MIN(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS min_value,
       CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS max_value
FROM events
GROUP BY event_type
"""

# --------------------------------------------------------------------------
# Analytics: multi-join + agg + top-k (TPC-H Q3 shape)
# --------------------------------------------------------------------------


def q_join_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-03-15").cast("timestamp")
    revenue_num = _cents("l_extendedprice") * (100 - _cents("l_discount"))
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(orders.filter(F.col("o_orderdate") < cutoff),
              F.col("l_orderkey") == F.col("o_orderkey"))
        # no broadcast hint on customer: it scales with SF, and a hint
        # overrides the size threshold — the planner/AQE broadcasts it
        # while it fits and degrades to a shuffle join at scale (§3.1)
        .join(cust.filter(F.col("c_mktsegment") == "BUILDING"),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(revenue_num).cast("double") / 10000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


ORACLE_JOIN_TOP_ORDERS = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM({_L_CENTS} * (100 - {_L_DISC})) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

# --------------------------------------------------------------------------
# Analytics: TPC-H Q21 shape — double-correlated EXISTS / NOT EXISTS,
# decorrelated into per-order counts (late := shipped >60d after order;
# the shipped tables carry no commit/receipt dates)
# --------------------------------------------------------------------------


def q_join_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the SOLE late shipper in multi-supplier finished
    orders. The reference-free relational stress shape: Q21's
    ``EXISTS(other supplier) AND NOT EXISTS(other LATE supplier)`` pair
    is decorrelated into per-order WINDOW aggregates over one
    per-(order,supplier) rollup — the two correlated self-probes become
    two window functions sharing one partitioning, so lineitem is
    scanned and aggregated exactly ONCE (a groupBy-and-rejoin
    formulation was measured planning the pair aggregate twice into a
    sort-merge self-join). The oracle keeps the literal correlated
    formulation, so the gate proves the rewrite semantics-preserving."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    late = F.max(
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
            1,
        ).otherwise(0)
    )
    per_pair = (
        li.join(
            # orders is a fact table: join strategy left to Catalyst/AQE
            # (runtime-broadcast at small sf, sort-merge at scale)
            orders.filter(F.col("o_orderstatus") == "F").select(
                "o_orderkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(late.alias("late"))
    )
    w = Window.partitionBy("l_orderkey")
    culprits = (
        per_pair.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_late", F.sum("late").over(w))
        .filter(
            (F.col("late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1)
        )
    )
    return (
        culprits.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", F.col("n_name").alias("supp_nation"), "numwait")
    )


ORACLE_WAITING_SUPPLIERS = """
WITH pair AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey, l_suppkey
)
SELECT s_name, n_name AS supp_nation, CAST(count(*) AS BIGINT) AS numwait
FROM pair a
JOIN supplier ON a.l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE a.late = 1
  AND EXISTS (SELECT 1 FROM pair b
              WHERE b.l_orderkey = a.l_orderkey
                AND b.l_suppkey <> a.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM pair c
                  WHERE c.l_orderkey = a.l_orderkey
                    AND c.l_suppkey <> a.l_suppkey AND c.late = 1)
GROUP BY s_name, n_name
"""

# --------------------------------------------------------------------------
# Analytics: TPC-H Q18 shape — HAVING-filtered aggregate as join input
# --------------------------------------------------------------------------

LARGE_ORDER_QTY = 250


def q_join_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders: the HAVING subquery (orders whose total
    quantity exceeds a threshold) drives a semi-join back through orders
    to customers — aggregate-then-join, the reverse of Q3's
    join-then-aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("sum_qty"))
        .filter(F.col("sum_qty") > LARGE_ORDER_QTY)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice", "sum_qty")
    )


ORACLE_LARGE_ORDERS = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
HAVING sum(CAST(round(l_quantity) AS BIGINT)) > {LARGE_ORDER_QTY}
"""

# --------------------------------------------------------------------------
# Analytics: TPC-H Q15 shape — scalar-max-of-view filter (top supplier)
# --------------------------------------------------------------------------

TOP_SUPP_START, TOP_SUPP_END = "1997-01-01 00:00:00", "1997-04-01 00:00:00"


def q_join_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quarter's top revenue supplier(s): a revenue "view" consumed
    twice — once for per-supplier totals, once for the global max — with
    the second consumption expressed as an unpartitioned window max over
    the tiny post-aggregate result (no recompute, no self-join)."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    revenue_num = _cents("l_extendedprice") * (100 - _cents("l_discount"))
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit(TOP_SUPP_START).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(TOP_SUPP_END).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg((F.sum(revenue_num).cast("double") / 10000.0).alias("total_rev"))
    )
    best = rev.withColumn(
        "max_rev", F.max("total_rev").over(Window.partitionBy())
    ).filter(F.col("total_rev") == F.col("max_rev"))
    return (
        best.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    )


ORACLE_TOP_SUPPLIER = f"""
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM({_L_CENTS} * (100 - {_L_DISC})) AS DOUBLE) / 10000.0
           AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{TOP_SUPP_START}'
    AND l_shipdate <  TIMESTAMP '{TOP_SUPP_END}'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_rev
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
"""

# --------------------------------------------------------------------------
# Analytics: TPC-H Q14 shape — conditional-aggregate share (promo split)
# --------------------------------------------------------------------------

PROMO_MONTH_START, PROMO_MONTH_END = "1997-06-01 00:00:00", "1997-07-01 00:00:00"


def q_agg_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of one part category in a month's revenue: two conditional
    sums from one scan (numerator CASE-gated), integer cents end to end,
    ONE double division at the edge — the cross-engine-exact formulation
    of Q14's percentage."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    revenue_num = _cents("l_extendedprice") * (100 - _cents("l_discount"))
    joined = li.filter(
        (F.col("l_shipdate") >= F.lit(PROMO_MONTH_START).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(PROMO_MONTH_END).cast("timestamp"))
    ).join(part, F.col("l_partkey") == F.col("p_partkey"))
    promo_num = F.sum(
        F.when(F.col("p_type") == "ECONOMY", revenue_num).otherwise(F.lit(0))
    )
    return joined.agg(
        ((F.lit(100) * promo_num).cast("double")
         / F.sum(revenue_num).cast("double")).alias("promo_share"),
        F.count(F.lit(1)).alias("n_items"),
    )


ORACLE_PROMO_SHARE = f"""
SELECT CAST(100 * SUM(CASE WHEN p_type = 'ECONOMY'
                           THEN {_L_CENTS} * (100 - {_L_DISC})
                           ELSE 0 END) AS DOUBLE)
       / CAST(SUM({_L_CENTS} * (100 - {_L_DISC})) AS DOUBLE) AS promo_share,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '{PROMO_MONTH_START}'
  AND l_shipdate <  TIMESTAMP '{PROMO_MONTH_END}'
"""

# --------------------------------------------------------------------------
# Analytics: TPC-H Q10 shape — returned-item customers, deterministic top-k
# --------------------------------------------------------------------------

RETURNS_START, RETURNS_END = "1997-07-01 00:00:00", "1997-10-01 00:00:00"


def q_join_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue lost to returns in a quarter: fact
    pre-filtered on the return flag before the joins, broadcast dims,
    deterministic top-k (revenue DESC, custkey ASC tiebreak)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    revenue_num = _cents("l_extendedprice") * (100 - _cents("l_discount"))
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit(RETURNS_START).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(RETURNS_END).cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((F.sum(revenue_num).cast("double") / 10000.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


ORACLE_RETURNED_CUSTOMERS = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(SUM({_L_CENTS} * (100 - {_L_DISC})) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '{RETURNS_START}'
  AND o_orderdate <  TIMESTAMP '{RETURNS_END}'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

# --------------------------------------------------------------------------
# Analytics: star-schema join through region (TPC-H Q5 shape)
# --------------------------------------------------------------------------


def q_join_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue_num = _cents("l_extendedprice") * (100 - _cents("l_discount"))
    dims = (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "n_name")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        # dims is customer-derived (scales with SF): no broadcast hint —
        # AQE converts the join to broadcast while dims fits (§3.1)
        .join(dims, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg((F.sum(revenue_num).cast("double") / 10000.0).alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


ORACLE_JOIN_REGION = f"""
SELECT n_name,
       CAST(SUM({_L_CENTS} * (100 - {_L_DISC})) AS DOUBLE) / 10000.0 AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey  = o_orderkey
JOIN customer ON o_custkey   = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""

# --------------------------------------------------------------------------
# Analytics: semi join (TPC-H Q4 shape) — orders with at least one
# late-shipping lineitem, counted per priority. The EXISTS becomes a
# LEFT SEMI join: the probe side never duplicates order rows, so the
# aggregate input stays bounded by |orders| regardless of lineitem fanout.
# --------------------------------------------------------------------------


def q_join_semi_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li.select("l_orderkey", "l_shipdate"),
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_late_orders")
    )


ORACLE_JOIN_SEMI_LATE = """
SELECT o_orderpriority, COUNT(*) AS n_late_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
"""

# --------------------------------------------------------------------------
# Analytics: anti join — customers with NO order above a price floor
# (NOT EXISTS -> LEFT ANTI; the filtered order side shrinks before the
# shuffle, and the anti join preserves the customer side's partitioning
# for the following aggregate)
# --------------------------------------------------------------------------

QUIET_ORDER_FLOOR = 300000.0


def q_join_anti_quiet_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > QUIET_ORDER_FLOOR).select("o_custkey")
    return (
        cust.join(big, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum(_cents("c_acctbal")).cast("double") / 100.0).alias("sum_acctbal"),
        )
    )


ORACLE_JOIN_ANTI_QUIET = f"""
SELECT c_mktsegment, COUNT(*) AS n_customers,
       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_acctbal
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > {QUIET_ORDER_FLOOR}
)
GROUP BY c_mktsegment
"""

# --------------------------------------------------------------------------
# Analytics: ROLLUP (grouping sets) — order revenue by (region, nation)
# with subtotal and grand-total rows. All three dims broadcast; the only
# shuffle is the rollup aggregate itself (Spark expands grouping sets
# map-side, so partial aggregation still applies).
# --------------------------------------------------------------------------


def q_agg_rollup_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    dims = (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "r_name", "n_name")
    )
    return (
        orders.join(dims, F.col("o_custkey") == F.col("c_custkey"))
        .rollup("r_name", "n_name")
        .agg(
            (F.sum(_cents("o_totalprice")).cast("double") / 100.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


ORACLE_ROLLUP_REGION = """
SELECT r_name, n_name,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey   = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""

# --------------------------------------------------------------------------
# Analytics: exact ordered-set aggregate — interpolated percentiles of
# event value per type. Spark's `percentile` and DuckDB's `quantile_cont`
# share the linear-interpolation definition, so the doubles match
# bit-for-bit (verified); at scale this is a sort-within-group aggregate,
# one shuffle on the group key. (For 100 TB dashboards swap in
# approx_percentile / t-digest — kept exact here because the gate is a
# value hash.)
# --------------------------------------------------------------------------


def q_agg_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.expr("percentile(value, array(0.5, 0.9, 0.99))").alias("p"))
        .selectExpr("event_type", "p[0] AS p50", "p[1] AS p90", "p[2] AS p99")
    )


ORACLE_VALUE_PERCENTILES = """
SELECT event_type,
       quantile_cont(value, 0.5)  AS p50,
       quantile_cont(value, 0.9)  AS p90,
       quantile_cont(value, 0.99) AS p99
FROM events GROUP BY event_type
"""

# --------------------------------------------------------------------------
# Analytics: approximate aggregates — the 100 TB dashboard path. HLL++
# distinct counts and quantile-sketch percentiles run in one pass with
# O(sketch) state per group instead of sort/expand, and their partial
# sketches merge associatively across executors. No oracle: sketch
# algorithms are engine-specific (rows-only check); accuracy vs the
# exact twins is asserted in tests instead.
# --------------------------------------------------------------------------


def q_agg_approx_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.expr(
            "approx_percentile(value, array(0.5, 0.99), 10000)"
        )[0].alias("approx_p50"),
        F.expr(
            "approx_percentile(value, array(0.5, 0.99), 10000)"
        )[1].alias("approx_p99"),
    )


# --------------------------------------------------------------------------
# Analytics: correlated scalar subquery (TPC-H Q17 shape) — lineitems
# below half their part's average quantity. The correlation decorrelates
# into a per-part aggregate joined back on the part key; the threshold
# test is pure integer arithmetic (2*qty*cnt < sum), so no float
# comparison can diverge between engines.
# --------------------------------------------------------------------------


def q_agg_smallqty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity")).cast("bigint")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(qty).alias("qty_sum"), F.count(F.lit(1)).alias("qty_cnt")
    )
    return (
        li.join(per_part, "l_partkey")
        .filter(qty * 2 * F.col("qty_cnt") < F.col("qty_sum"))
        .agg(
            (F.sum(_cents("l_extendedprice")).cast("double") / 100.0)
            .alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


ORACLE_SMALLQTY = f"""
WITH pa AS (
  SELECT l_partkey, SUM({_L_QTY}) AS qty_sum, COUNT(*) AS qty_cnt
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM({_L_CENTS}) AS DOUBLE) / 100.0 AS small_qty_revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN pa USING (l_partkey)
WHERE {_L_QTY} * 2 * qty_cnt < qty_sum
"""

# --------------------------------------------------------------------------
# Analytics: outer-join distribution (TPC-H Q13 shape) — how many
# customers placed how many orders (zero included via the left join).
# Double aggregation: per-customer count, then the count-of-counts.
# --------------------------------------------------------------------------


def q_join_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


ORACLE_ORDER_COUNT_DIST = """
SELECT n_orders, COUNT(*) AS n_customers
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY n_orders
"""

# --------------------------------------------------------------------------
# Analytics: disjunctive predicate join (TPC-H Q19 shape) — three
# brand/size/quantity clauses OR-ed together. The part-side conjuncts
# (brand OR-tree, size bounds) are separable from the lineitem-side
# quantity bounds, so Catalyst pushes a disjunction to EACH scan and the
# residual OR runs post-join; the filtered part side broadcasts.
# --------------------------------------------------------------------------

_Q19_CLAUSES = [
    ("Brand#13", (1, 10), (1, 20)),
    ("Brand#23", (10, 25), (10, 30)),
    ("Brand#34", (20, 40), (20, 40)),
]


def q_join_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    clause = None
    for brand, (s_lo, s_hi), (q_lo, q_hi) in _Q19_CLAUSES:
        c = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(s_lo, s_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )
        clause = c if clause is None else clause | c
    revenue_num = _cents("l_extendedprice") * (100 - _cents("l_discount"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(clause)
        .agg(
            (F.sum(revenue_num).cast("double") / 10000.0).alias("promo_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _q19_sql_clause() -> str:
    parts = []
    for brand, (s_lo, s_hi), (q_lo, q_hi) in _Q19_CLAUSES:
        parts.append(
            f"(p_brand = '{brand}' AND p_size BETWEEN {s_lo} AND {s_hi} "
            f"AND l_quantity BETWEEN {q_lo} AND {q_hi})"
        )
    return " OR ".join(parts)


ORACLE_PROMO_REVENUE = f"""
SELECT CAST(SUM({_L_CENTS} * (100 - {_L_DISC})) AS DOUBLE) / 10000.0 AS promo_revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {_q19_sql_clause()}
"""

# --------------------------------------------------------------------------
# Analytics: semi-structured extraction — the JSON `props` payload on
# events is parsed with a typed `from_json` (JVM Jackson parse, schema
# declared, malformed rows -> NULL) and aggregated. The oracle extracts
# the same integer with a regex — equivalent on well-formed payloads, so
# values hash-match while the Spark side exercises the real JSON path.
# --------------------------------------------------------------------------


def q_scan_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


ORACLE_JSON_PROPS = r"""
SELECT event_type,
       COUNT(k) AS n_with_k,
       -- CAST: raw SUM(BIGINT) is HUGEINT in DuckDB -> float64 in pandas;
       -- Spark returns BIGINT. Match dtypes for the driver's value hash.
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MAX(k) AS max_k
FROM (
  SELECT event_type,
         CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS BIGINT) AS k
  FROM events
)
GROUP BY event_type
"""

# --------------------------------------------------------------------------
# Reference surface S2, non-parquet format: the same events data served
# through a CSV object source (``SparkDataSource(path, format="csv")``,
# reference cos_type validation :147) and aggregated. The CSV copy is
# materialized once per sf_dir (idempotent marker); header+inferSchema
# recover names and types, mirroring the remote engine's inference the
# reference relied on. Timestamps are excluded (CSV truncates micros to
# millis); money survives exactly via the cents discipline.
# --------------------------------------------------------------------------


def q_scan_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from ..sources.data_source import SparkDataSource

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    dest = os.path.join(tempfile.gettempdir(), f"fis_events_csv_{tag}")
    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        (
            _t(spark, sf_dir, "events")
            .select("user_id", "event_type", "value")
            .write.mode("overwrite")
            .option("header", "true")
            .csv(dest)
        )
    src = SparkDataSource(path=dest, format="csv")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        src.load(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents).cast("double") / 100.0).alias("sum_value"),
        )
    )


ORACLE_CSV_SOURCE = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM events GROUP BY event_type
"""


def q_scan_orc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 extension past the reference's cos_type set: an ORC object
    source (Spark-native reader; typed columns survive unlike CSV). Same
    materialize-once-to-tmp pattern and oracle as the CSV twin."""
    import hashlib
    import os
    import tempfile

    from ..sources.data_source import SparkDataSource

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    dest = os.path.join(tempfile.gettempdir(), f"fis_events_orc_{tag}")
    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        (
            _t(spark, sf_dir, "events")
            .select("user_id", "event_type", "value")
            .write.mode("overwrite")
            .orc(dest)
        )
    src = SparkDataSource(path=dest, format="orc")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        src.load(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents).cast("double") / 100.0).alias("sum_value"),
        )
    )


def q_scan_xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 extension: XML object source through Spark 4's BUILT-IN xml
    reader (rowTag row extraction + schema inference) — the sixth format
    in the source matrix (parquet/csv/json/orc/text/xml). Money rides as
    integer cents in the XML payload so the text roundtrip is exact;
    same materialize-once pattern and oracle as the CSV/ORC twins."""
    import hashlib
    import os
    import tempfile

    from ..sources.data_source import SparkDataSource

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    dest = os.path.join(tempfile.gettempdir(), f"fis_events_xml_{tag}")
    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        (
            _t(spark, sf_dir, "events")
            .select(
                "user_id",
                "event_type",
                F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            )
            .write.mode("overwrite")
            .format("xml")
            .option("rowTag", "event")
            .option("rootTag", "events")
            .save(dest)
        )
    src = SparkDataSource(path=dest, format="xml", options={"rowTag": "event"})
    return (
        src.load(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("cents").cast("double") / 100.0).alias("sum_value"),
        )
    )


def q_scan_text_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 extension: raw LOG LINES as a source — the shape real
    clickstream/access-log ingestion has before any schema exists. The
    events table is rendered once into Apache-combined-style lines
    (``format_string``, value carried as integer cents so the roundtrip
    is exact), served back through ``SparkDataSource(format="text")`` as
    a single string column, parsed with ``regexp_extract`` (JVM-side,
    codegen — the scale path for log parsing; no Python in the loop),
    and aggregated. The oracle computes the same aggregate straight from
    the events table, so the gate pins the whole render -> text scan ->
    regex parse -> agg roundtrip. Unparseable lines (none here by
    construction, but the filter is the production guard) are dropped
    explicitly rather than poisoning casts."""
    import hashlib
    import os
    import tempfile

    from ..sources.data_source import SparkDataSource

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    dest = os.path.join(tempfile.gettempdir(), f"fis_events_log_{tag}")
    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        (
            _t(spark, sf_dir, "events")
            .select(
                F.format_string(
                    'user=%d - [%s] "GET /%s HTTP/1.1" 200 %d',
                    F.col("user_id"),
                    F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
                    F.col("event_type"),
                    F.round(F.col("value") * 100).cast("bigint"),
                ).alias("value")
            )
            .write.mode("overwrite")
            .text(dest)
        )
    src = SparkDataSource(path=dest, format="text")
    pat = r'^user=(\d+) - \[[^\]]+\] "GET /(\w+) HTTP/1\.1" 200 (\d+)$'
    parsed = src.load(spark).select(
        F.regexp_extract("value", pat, 1).alias("uid_s"),
        F.regexp_extract("value", pat, 2).alias("event_type"),
        F.regexp_extract("value", pat, 3).alias("cents_s"),
    )
    return (
        parsed.filter(F.col("uid_s") != "")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct(F.col("uid_s").cast("bigint")).alias("n_users"),
            (F.sum(F.col("cents_s").cast("bigint")).cast("double") / 100.0)
            .alias("sum_value"),
        )
    )


ORACLE_TEXT_LOGS = """
SELECT event_type, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM events GROUP BY event_type
"""

# --------------------------------------------------------------------------
# Reference surface F3 as a driver query: native partition pruning over a
# date-partitioned layout (reference :665-667 injects string predicates
# on a date partition column; here Catalyst prunes the directories
# natively). The partitioned copy of `events` is materialized ONCE per
# sf_dir into the system temp dir (idempotent _SUCCESS marker) — the
# write is the one-time physical design step, the query is the scan.
# --------------------------------------------------------------------------

PARTITIONED_DAY_LO, PARTITIONED_DAY_HI = "2024-01-10", "2024-01-12"


def q_scan_partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    dest = _partitioned_events_path(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        spark.read.parquet(dest)
        .filter(F.col("day").between(PARTITIONED_DAY_LO, PARTITIONED_DAY_HI))
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents).cast("double") / 100.0).alias("sum_value"),
        )
    )


ORACLE_PARTITIONED_SCAN = f"""
SELECT strftime(ts, '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM events
WHERE strftime(ts, '%Y-%m-%d') BETWEEN '{PARTITIONED_DAY_LO}' AND '{PARTITIONED_DAY_HI}'
GROUP BY 1
"""

# --------------------------------------------------------------------------
# Analytics: CUBE grouping sets — revenue over every subset of
# (status, priority). Same Expand-based map-side partial aggregation as
# the rollup; 4 grouping sets from one scan.
# --------------------------------------------------------------------------


def q_agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        (F.sum(_cents("o_totalprice")).cast("double") / 100.0).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


ORACLE_CUBE_STATUS = """
SELECT o_orderstatus, o_orderpriority,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
       COUNT(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

# --------------------------------------------------------------------------
# Analytics: two-dimension-branch join (TPC-H Q7 shape) — revenue flow
# between supplier nation and customer nation. Two independent broadcast
# dimension branches hang off the fact-fact join; only the lineitem-
# orders join shuffles.
# --------------------------------------------------------------------------


def q_join_nation_trade_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    revenue_num = _cents("l_extendedprice") * (100 - _cents("l_discount"))
    supp_n = supp.join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select(F.col("s_suppkey"), F.col("n_name").alias("supp_nation"))
    cust_n = cust.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).select(F.col("c_custkey"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp_n, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust_n, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            (F.sum(revenue_num).cast("double") / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


ORACLE_NATION_TRADE = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(SUM({_L_CENTS} * (100 - {_L_DISC})) AS DOUBLE) / 10000.0 AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey  = o_orderkey
JOIN supplier ON l_suppkey   = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN customer ON o_custkey   = c_custkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY n1.n_name, n2.n_name
"""

# --------------------------------------------------------------------------
# Analytics: set operations — EXCEPT / INTERSECT cohorts over the event
# stream (distinct set semantics; each leg prunes to one column before
# the set-op shuffle)
# --------------------------------------------------------------------------

BIG_PURCHASE_FLOOR = 150.0
ERROR_PRONE_MIN = 18


def q_set_user_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    big = (
        ev.filter((F.col("event_type") == "purchase")
                  & (F.col("value") > BIG_PURCHASE_FLOOR))
        .select("user_id").distinct()
    )
    err = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= ERROR_PRONE_MIN)
        .select("user_id")
    )
    premium = big.subtract(err).withColumn("cohort", F.lit("premium"))
    at_risk = big.intersect(err).withColumn("cohort", F.lit("at_risk"))
    return premium.unionByName(at_risk)


ORACLE_SET_COHORTS = f"""
WITH big AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'purchase' AND value > {BIG_PURCHASE_FLOOR}
),
err AS (
  SELECT user_id FROM events WHERE event_type = 'error'
  GROUP BY user_id HAVING COUNT(*) >= {ERROR_PRONE_MIN}
)
SELECT user_id, 'premium' AS cohort FROM (SELECT * FROM big EXCEPT SELECT * FROM err)
UNION ALL
SELECT user_id, 'at_risk' AS cohort FROM (SELECT * FROM big INTERSECT SELECT * FROM err)
"""

# --------------------------------------------------------------------------
# Analytics: running-total window — cumulative purchase spend per user
# over time (ROWS frame; the (ts, event_id) order key is unique, so the
# cumulative sum is deterministic; money accumulates in cents)
# --------------------------------------------------------------------------


def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id", "ts", "event_id", "value",
            (F.sum(cents).over(w).cast("double") / 100.0).alias("running_spend"),
        )
    )


ORACLE_RUNNING_TOTAL = """
SELECT user_id, ts, event_id, value,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) / 100.0 AS running_spend
FROM events
WHERE event_type = 'purchase'
"""

# --------------------------------------------------------------------------

# Analytics (local gate): deeper decorrelation + distribution shapes.
# Driver-gate-excluded (50-row cap) but oracle-pinned via
# tests/test_oracle_parity.py with the driver's own compare.
# --------------------------------------------------------------------------


def q_join_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted to the shipped tables): suppliers that
    carry more than 40% of some part's total lineitem quantity. The
    correlated "exceeds a share of the part total" predicate decorrelates
    into a per-part aggregate joined back on the part key; the supplier
    dimension broadcasts onto the survivors."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    qty = F.round(F.col("l_quantity")).cast("bigint")
    per_sp = li.groupBy("l_suppkey", "l_partkey").agg(F.sum(qty).alias("sp_qty"))
    per_p = li.groupBy("l_partkey").agg(F.sum(qty).alias("p_qty"))
    excess = (
        per_sp.join(per_p, "l_partkey")
        # integer share test: sp_qty > 0.4 * p_qty  <=>  5*sp_qty > 2*p_qty
        .filter(F.col("sp_qty") * 5 > F.col("p_qty") * 2)
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_dominated_parts"))
    )
    return excess.join(
        supp.select("s_suppkey", "s_name"),
        F.col("l_suppkey") == F.col("s_suppkey"),
    ).select("s_name", "n_dominated_parts")


ORACLE_EXCESS_SUPPLIERS = f"""
WITH per_sp AS (
  SELECT l_suppkey, l_partkey, SUM({_L_QTY}) AS sp_qty
  FROM lineitem GROUP BY 1, 2
),
per_p AS (
  SELECT l_partkey, SUM({_L_QTY}) AS p_qty FROM lineitem GROUP BY 1
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS n_dominated_parts
FROM per_sp
JOIN per_p USING (l_partkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE sp_qty * 5 > p_qty * 2
GROUP BY s_name
"""


LAPSED_CUTOFF = "1999-01-01"  # testdata orders span 1995-01-01..2001-08-01


def q_agg_global_avg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: LAPSED rich customers — above-global-average
    balance and no orders since LAPSED_CUTOFF — counted per market
    segment. The scalar avg subquery becomes a 1-row broadcast cross
    join; the NOT EXISTS a left-anti join over the date-filtered orders
    (the filter reaches the orders scan, so the anti-join's build side
    shrinks before the shuffle). Round 8: the original 'no orders EVER'
    predicate returned 0 rows at every test SF (each customer has
    orders) — an empty result is the weakest possible driver-hash
    signal (r6 ledger precedent: join_excess_suppliers), so the
    anti-join side was narrowed to recent orders, updating query and
    oracle identically; 5/5/5 segment rows at sf0.001/0.01/0.1."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    bal = _cents("c_acctbal")
    # exact global average in cents: (sum_cents, count) then one division
    g = cust.agg(F.sum(bal).alias("s"), F.count(F.lit(1)).alias("n"))
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit(LAPSED_CUTOFF).cast("timestamp")
    ).select("o_custkey")
    rich = (
        cust.join(F.broadcast(g))
        .filter(bal * F.col("n") > F.col("s"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return rich.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.sum(bal).cast("double") / 100.0).alias("sum_acctbal"),
    )


_C_CENTS = "CAST(round(c_acctbal * 100) AS BIGINT)"
ORACLE_GLOBAL_AVG_FILTER = f"""
WITH g AS (
  SELECT CAST(SUM({_C_CENTS}) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM customer
)
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM({_C_CENTS}) AS DOUBLE) / 100.0 AS sum_acctbal
FROM customer, g
WHERE {_C_CENTS} * g.n > g.s
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '{LAPSED_CUTOFF} 00:00:00'
  )
GROUP BY c_mktsegment
"""


def q_window_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE distribution shape: users bucketed into spend quartiles.
    Deterministic because the order key (total cents, user_id) is unique."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(cents).alias("spend_cents"))
    )
    w = Window.orderBy(F.col("spend_cents").desc(), F.col("user_id").asc())
    return spend.select(
        "user_id",
        (F.col("spend_cents").cast("double") / 100.0).alias("total_spend"),
        F.ntile(4).over(w).alias("quartile"),
    )


ORACLE_SPEND_QUARTILES = """
WITH spend AS (
  SELECT user_id, CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS spend_cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT user_id,
       CAST(spend_cents AS DOUBLE) / 100.0 AS total_spend,
       CAST(ntile(4) OVER (ORDER BY spend_cents DESC, user_id ASC) AS INTEGER)
         AS quartile
FROM spend
"""

# --------------------------------------------------------------------------


def q_scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (the lakehouse reality: a table's files were
    written across schema versions): generation 1 of the events feed has
    (event_id, user_id, value); generation 2 added event_type. One
    ``mergeSchema`` read reconciles both — gen-1 rows surface NULL for
    the later column, nothing rewrites old files, and the unified scan
    aggregates across generations. The oracle reproduces the same union
    with a NULL literal for the missing column. At 100 TB this is why
    adding a column is a metadata operation, not a 100 TB rewrite."""
    import hashlib
    import os
    import tempfile

    ev = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    # both generations are a function of sf_dir: written once per sf tag
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"fis_schevo_{tag}")
    if not all(os.path.exists(f"{base}/gen={g}/_SUCCESS") for g in (1, 2)):
        ev.where(F.col("ts") < cutoff).select(
            "event_id", "user_id", "value"
        ).write.mode("overwrite").parquet(base + "/gen=1")
        ev.where(F.col("ts") >= cutoff).select(
            "event_id", "user_id", "value", "event_type"
        ).write.mode("overwrite").parquet(base + "/gen=2")

    unified = spark.read.option("mergeSchema", "true").parquet(
        base + "/gen=1", base + "/gen=2"
    )
    return (
        unified.groupBy(
            F.coalesce(F.col("event_type"), F.lit("<pre-schema>")).alias(
                "event_type"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.round(F.col("value") * 100).cast("bigint")
            ).alias("sum_cents"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


ORACLE_MERGE_SCHEMA = """
WITH unified AS (
  SELECT event_id, user_id, value, CAST(NULL AS VARCHAR) AS event_type
  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
  UNION ALL
  SELECT event_id, user_id, value, event_type
  FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
)
SELECT COALESCE(event_type, '<pre-schema>') AS event_type,
       count(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       count(DISTINCT user_id) AS n_users
FROM unified GROUP BY 1
"""


def q_scan_json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-record quarantine on semi-structured ingestion: a feed where
    ~1/13 of the JSON payloads are corrupted (closing brace chopped —
    deterministic by event_id) parses with a corrupt-record channel
    (``columnNameOfCorruptRecord``), so malformed rows are ROUTED, not
    dropped and not fatal: good rows surface their typed field, bad rows
    are counted with a traceable sample id, and the pipeline total never
    changes. The oracle reproduces the corruption and the routing with
    ``json_valid`` — verified equivalent to Spark's PERMISSIVE corrupt
    channel for this corruption class. At 100 TB this is the difference
    between one poison record killing an ingest and a quarantine table
    to triage."""
    ev = _t(spark, sf_dir, "events")
    fed = ev.select(
        "event_id",
        "event_type",
        F.when(
            F.col("event_id") % 13 == 0,
            F.expr("substr(props, 1, length(props) - 1)"),
        ).otherwise(F.col("props")).alias("props"),
    )
    parsed = fed.select(
        "event_id",
        "event_type",
        F.from_json(
            "props",
            "k bigint, _corrupt string",
            {"columnNameOfCorruptRecord": "_corrupt", "mode": "PERMISSIVE"},
        ).alias("s"),
    )
    return (
        parsed.select(
            "event_id",
            "event_type",
            F.col("s.k").alias("k"),
            F.col("s._corrupt").isNotNull().alias("bad"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("bad").cast("bigint")).alias("n_quarantined"),
            F.sum(F.when(~F.col("bad"), F.col("k"))).alias("sum_k_good"),
            F.min(F.when(F.col("bad"), F.col("event_id"))).alias(
                "first_bad_event_id"
            ),
        )
    )


ORACLE_JSON_QUARANTINE = """
WITH fed AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 13 = 0
              THEN substr(props, 1, length(props) - 1)
              ELSE props END AS props
  FROM events
),
routed AS (
  SELECT event_id, event_type,
         NOT json_valid(props) AS bad,
         CASE WHEN json_valid(props)
              THEN CAST(json_extract(props, '$.k') AS BIGINT) END AS k
  FROM fed
)
SELECT event_type,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
       CAST(sum(CASE WHEN NOT bad THEN k END) AS BIGINT) AS sum_k_good,
       min(CASE WHEN bad THEN event_id END) AS first_bad_event_id
FROM routed GROUP BY event_type
"""


def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table checksum — the cross-system
    reconciliation primitive ("does the replica hold exactly this
    data?"). Each row folds to one canonical string (doubles as cents,
    timestamps as epoch micros — formatting-free integers, so the
    string is engine-identical), hashes with the engine-portable
    polynomial rolling hash (functions/text.fingerprint_col, mod 1e9+7),
    and aggregates per event_type with the two order-independent
    reductions: SUM (bigint; < 2^63 up to ~9e9 rows per group — the
    documented bound) and XOR. Any single changed/missing/duplicated
    row flips both with overwhelming probability. Map-side combinable:
    at 100 TB this is one scan + one tiny shuffle of (group, sum, xor,
    n) partials."""
    from ..functions.text import fingerprint_col

    ev = _t(spark, sf_dir, "events")
    canon = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.unix_micros(F.col("ts")).cast("string"),
        F.col("event_type"),
        _cents("value").cast("string"),
    )
    h = fingerprint_col(canon)
    return (
        ev.select("event_type", h.alias("__h"))
        .groupBy("event_type")
        .agg(
            F.sum("__h").alias("sum_hash"),
            F.expr("bit_xor(__h)").alias("xor_hash"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def _oracle_table_checksum() -> str:
    from ..functions.text import FP_BASE, FP_MOD

    return f"""
WITH canon AS (
  SELECT event_type,
         concat_ws('|',
           CAST(event_id AS VARCHAR),
           CAST(user_id AS VARCHAR),
           CAST(epoch_us(ts) AS VARCHAR),
           event_type,
           CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)) AS s
  FROM events
),
hashed AS (
  SELECT event_type,
    list_reduce(
      list_prepend(CAST(0 AS BIGINT),
        list_transform(range(1, length(s) + 1),
          i -> CAST(unicode(s[i:i]) AS BIGINT))),
      (acc, x) -> (acc * {FP_BASE} + x) % {FP_MOD}
    ) AS h
  FROM canon
)
SELECT event_type,
       CAST(sum(h) AS BIGINT) AS sum_hash,
       bit_xor(h) AS xor_hash,
       count(*) AS n_rows
FROM hashed GROUP BY event_type
"""


ORACLE_TABLE_CHECKSUM = _oracle_table_checksum()


def q_scan_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FILE-READER twin of scan_json_quarantine: the quarantine
    channel on the CSV source itself (``columnNameOfCorruptRecord`` on
    ``spark.read.csv``, not from_json). The events table is serialized
    to CSV lines with the value field replaced by a non-numeric token
    for event_id % 17 == 0; the typed PERMISSIVE read routes those rows
    into the corrupt column — note a legitimately EMPTY field is a null,
    NOT a corrupt row (pinned by the oracle's rule), which is exactly
    the distinction a quarantine channel must preserve. Values travel
    as shortest-roundtrip double strings (Java Double.toString), so
    good rows re-parse bit-exactly and the cent sums match the original
    table."""
    import hashlib
    import os
    import tempfile

    ev = _t(spark, sf_dir, "events")
    lines = ev.select(
        F.concat_ws(
            ",",
            F.col("event_id").cast("string"),
            F.col("user_id").cast("string"),
            F.col("event_type"),
            F.when(F.col("event_id") % 17 == 0, F.lit("xx")).otherwise(
                F.col("value").cast("string")
            ),
        ).alias("value")
    )
    # the CSV feed is a function of sf_dir: written once per sf tag
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"fis_csvq_{tag}")
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        lines.repartition(4).write.mode("overwrite").text(d)

    parsed = (
        spark.read.schema(
            "event_id bigint, user_id bigint, event_type string, "
            "value double, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(d)
    )
    return (
        parsed.select(
            "event_id",
            "event_type",
            "value",
            F.col("_corrupt").isNotNull().alias("bad"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("bad").cast("bigint")).alias("n_quarantined"),
            F.sum(
                F.when(~F.col("bad"),
                       F.round(F.col("value") * 100).cast("bigint"))
            ).alias("sum_cents_good"),
            F.min(F.when(F.col("bad"), F.col("event_id"))).alias(
                "first_bad_event_id"
            ),
        )
    )


ORACLE_CSV_QUARANTINE = """
SELECT event_type,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN event_id % 17 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quarantined,
       CAST(sum(CASE WHEN event_id % 17 != 0
                     THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
         AS sum_cents_good,
       min(CASE WHEN event_id % 17 = 0 THEN event_id END)
         AS first_bad_event_id
FROM events GROUP BY event_type
"""


PYSRC_ROWS, PYSRC_PARTS = 10_000, 8


def q_scan_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine extensibility at the gate: a CUSTOM Python Data Source
    (Spark 4 pyspark.sql.datasource API — sources/python_source.py)
    serving a deterministic generator table in 8 genuine input
    partitions, aggregated per event_type. Every generated row is a pure
    function of its global index, so the DuckDB oracle reproduces the
    whole "table" from range() arithmetic — a value-hashed source with
    no files behind it. (sf_dir is unused: the source's point is that
    there is no storage.)"""
    from ..sources.python_source import register

    register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n_rows", PYSRC_ROWS)
        .option("n_partitions", PYSRC_PARTS)
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("cents").alias("sum_cents"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
    )


ORACLE_PYTHON_SOURCE = f"""
WITH gen AS (
  SELECT i AS event_id, i % 97 AS user_id,
         ['view', 'click', 'purchase', 'signup', 'error'][(i % 5) + 1]
           AS event_type,
         (i * 31) % 10000 AS cents
  FROM range(0, {PYSRC_ROWS}) t(i)
)
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       MIN(event_id) AS first_id,
       MAX(event_id) AS last_id
FROM gen GROUP BY event_type
"""


def q_sink_python_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITER half of the Python datasource API pair: events flow
    through the custom two-phase-commit JSONL sink
    (sources/python_source.py JsonlSinkWriter — staged `.inprogress`
    files, driver-side atomic rename commit, `_MANIFEST` audit), are
    read back as JSON, and the manifest's row total is cross-checked
    in-plan against the read-back count (manifest_rows == n_events sum
    per the oracle's total). Content travels as integer cents so the
    roundtrip is exact."""
    import hashlib
    import json
    import os
    import tempfile

    from ..sources.python_source import register_sink

    register_sink(spark)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    dest = os.path.join(tempfile.gettempdir(), f"fis_events_pysink_{tag}")
    if not os.path.exists(os.path.join(dest, "_MANIFEST")):
        (
            _t(spark, sf_dir, "events")
            .select(
                "event_id", "user_id", "event_type",
                _cents("value").alias("cents"),
            )
            .write.format("jsonl_sink")
            .option("path", dest)
            .mode("append")
            .save()
        )
    with open(os.path.join(dest, "_MANIFEST")) as f:
        manifest_rows = sum(d["n_rows"] for d in json.load(f))
    back = spark.read.json(
        os.path.join(dest, "*.jsonl"),
        schema="event_id bigint, user_id bigint, event_type string, "
               "cents bigint",
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("sum_cents"),
        F.min("event_id").alias("min_event"),
        F.max("event_id").alias("max_event"),
        F.lit(manifest_rows).cast("bigint").alias("manifest_rows"),
    )


ORACLE_PYSINK = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       MIN(event_id) AS min_event, MAX(event_id) AS max_event,
       (SELECT COUNT(*) FROM events) AS manifest_rows
FROM events GROUP BY event_type
"""
