"""Split from the round-4 queries.py monolith; see queries/__init__.py."""

from __future__ import annotations

import math

from ._shared import *  # noqa: F401,F403

# Round 4: behavioral analytics + feature-engineering shapes. All money/
# value math rides the scaled-integer cents discipline (see the Q1 note
# above) so group aggregates are order-independent and hash-exact; doubles
# appear only in final single divisions applied identically in both
# engines.
# --------------------------------------------------------------------------

def q_window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-window surface in one plan: rank, dense_rank,
    percent_rank, cume_dist, lag and lead share a single (key, order)
    window — one shuffle, one sort for six functions. All outputs are
    integers or exact rational fractions of integers (percent_rank =
    (rank-1)/(n-1), cume_dist = n_le/n: single divisions both engines),
    so the row is hash-exact. Orders table, keyed by priority."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    cents = _cents("o_totalprice")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("__c").asc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select("o_orderkey", "o_orderpriority", cents.alias("__c"))
        .withColumn("rnk", F.rank().over(w).cast("bigint"))
        .withColumn("drnk", F.dense_rank().over(w).cast("bigint"))
        .withColumn("prank", F.percent_rank().over(w))
        .withColumn("cdist", F.cume_dist().over(w))
        .withColumn("prev_cents", F.lag("__c", 1).over(w))
        .withColumn("next_cents", F.lead("__c", 1).over(w))
        .select(
            "o_orderkey", "o_orderpriority",
            (F.col("__c").cast("double") / 100.0).alias("total_price"),
            "rnk", "drnk", "prank", "cdist", "prev_cents", "next_cents",
        )
    )


ORACLE_WINDOW_RANK_SUITE = """
WITH c AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT o_orderkey, o_orderpriority,
       CAST(cents AS DOUBLE) / 100.0 AS total_price,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       percent_rank() OVER w AS prank,
       cume_dist() OVER w AS cdist,
       lag(cents, 1) OVER w AS prev_cents,
       lead(cents, 1) OVER w AS next_cents
FROM c
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY cents ASC, o_orderkey ASC)
"""


def q_agg_grouping_sets_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (beyond the ROLLUP/CUBE queries): exactly
    {(status, priority), (status), (priority)} — no grand total — plus
    GROUPING_ID to disambiguate NULLs from real values. One Expand over
    one scan; cents sums exact."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__gs_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT)
                 AS gid,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0 AS sum_total
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority))
    """)


ORACLE_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
         AS gid,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS sum_total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), (o_orderpriority))
"""


def q_scan_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4's open JSON type, the
    lakehouse answer to schema drift): parse the props JSON into VARIANT,
    extract a typed field with variant_get, aggregate. Unlike the typed
    from_json twin (scan_json_props), the extraction schema binds at
    READ time per field — new JSON keys never break the pipeline."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
            .alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


ORACLE_VARIANT_PROPS = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


def q_hierarchy_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE transitive closure (Spark 4's WITH RECURSIVE): walk
    each supplier up a derived hierarchy (parent(k) = floor(k/2) — the
    schema has no self-referencing table, so the binary-tree parent rule
    is the documented synthetic edge set, derivable identically in any
    engine) accumulating depth and the path's acctbal in cents. The
    per-step accumulation order is fixed by the recursion itself, so the
    path sum is deterministic and hash-exact."""
    orders = _t(spark, sf_dir, "supplier")
    orders.createOrReplaceTempView("__hier_supplier")
    return spark.sql("""
        WITH RECURSIVE walk(s_suppkey, node, depth, path_cents) AS (
          SELECT s_suppkey, s_suppkey, 0,
                 CAST(round(s_acctbal * 100) AS BIGINT)
          FROM __hier_supplier
          UNION ALL
          SELECT w.s_suppkey, s.s_suppkey, w.depth + 1,
                 w.path_cents + CAST(round(s.s_acctbal * 100) AS BIGINT)
          FROM walk w
          JOIN __hier_supplier s
            ON s.s_suppkey = CAST(floor(w.node / 2) AS BIGINT)
          WHERE w.node >= 2
        )
        SELECT s_suppkey, node AS root, CAST(depth AS BIGINT) AS depth,
               CAST(path_cents AS DOUBLE) / 100.0 AS path_acctbal
        FROM walk WHERE node <= 1
    """)


ORACLE_HIERARCHY_CHAIN = """
WITH RECURSIVE walk(s_suppkey, node, depth, path_cents) AS (
  SELECT s_suppkey, s_suppkey, 0, CAST(round(s_acctbal * 100) AS BIGINT)
  FROM supplier
  UNION ALL
  SELECT w.s_suppkey, s.s_suppkey, w.depth + 1,
         w.path_cents + CAST(round(s.s_acctbal * 100) AS BIGINT)
  FROM walk w
  JOIN supplier s ON s.s_suppkey = CAST(floor(w.node / 2) AS BIGINT)
  WHERE w.node >= 2
)
SELECT s_suppkey, node AS root, CAST(depth AS BIGINT) AS depth,
       CAST(path_cents AS DOUBLE) / 100.0 AS path_acctbal
FROM walk WHERE node <= 1
"""


def q_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) string join over distinct part names: pairs
    at Levenshtein distance exactly 1 — the entity-resolution "typo
    join". Candidates via a trigram inverted index (count-bound complete
    for these name lengths; short strings brute-force their tiny
    bucket), verified with the JVM levenshtein expression. The oracle is
    the brute-force distinct-pairs form — tractable in DuckDB at gate
    scale, which is exactly why the Spark side must NOT be."""
    from ..operators.fuzzy import fuzzy_string_pairs

    part = _t(spark, sf_dir, "part")
    return fuzzy_string_pairs(part, "p_name", max_dist=1)


ORACLE_FUZZY_NAMES = """
WITH names AS (SELECT DISTINCT p_name AS name FROM part)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
FROM names a JOIN names b ON a.name < b.name
WHERE levenshtein(a.name, b.name) = 1
"""


def q_fuzzy_part_names_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same typo join through the LENGTH-BUCKETED candidate path —
    the hot-gram fanout lever for 100 TB name corpora. Bucketing is
    lossless (a qualifying partner's length lands in one of the two
    probed endpoint buckets; operators/fuzzy.py), so this query must
    hash-match the SAME brute-force oracle as fuzzy_part_names — the
    scale path is itself under the value-hash gate."""
    from ..operators.fuzzy import fuzzy_string_pairs

    part = _t(spark, sf_dir, "part")
    return fuzzy_string_pairs(part, "p_name", max_dist=1, length_bucketing=True)


def q_materialize_agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance at the gate: per-user spend
    stats maintained through TWO half-range refreshes (operators/
    incremental.py), with the second slice deliberately RE-APPLIED to
    prove the ledger makes retries no-ops. The oracle is one full-range
    GROUP BY recompute — equality proves the incremental merge is exact
    and idempotent. History is never rescanned: each refresh reads its
    slice plus key-sized state."""
    import hashlib
    import shutil
    import tempfile

    from ..operators.incremental import read_agg, refresh_additive_agg

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = f"{tempfile.gettempdir()}/fis_aggstate_{tag}"
    shutil.rmtree(base, ignore_errors=True)

    ev = _t(spark, sf_dir, "events")
    mid = "2024-01-15 00:00:00"
    cents = _cents("value")
    first = ev.filter(F.col("ts") < F.lit(mid).cast("timestamp"))
    second = ev.filter(F.col("ts") >= F.lit(mid).cast("timestamp"))
    assert refresh_additive_agg(spark, base, first, ["user_id"], cents, "h1")
    assert refresh_additive_agg(spark, base, second, ["user_id"], cents, "h2")
    # retry of an applied refresh must be a committed no-op
    assert not refresh_additive_agg(spark, base, second, ["user_id"], cents, "h2")
    return read_agg(spark, base)


ORACLE_AGG_INCREMENTAL = """
SELECT user_id,
       COUNT(*) AS n,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value,
       CAST(MIN(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS min_value,
       CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS max_value,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / COUNT(*) / 100.0
         AS avg_value
FROM events GROUP BY user_id
"""


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 builder: turn a keyed event
    history into versioned validity intervals — each row's value is
    valid from its timestamp until the key's next change (NULL for the
    current version), with is_current flagged. The warehouse twin of
    merge_cdc_snapshot (which keeps only the winner; SCD2 keeps the
    lineage). ONE window (lead over the key's time order, deterministic
    event_id tiebreak), one shuffle; at 100 TB this is a map-side
    pipeline after the key exchange."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "user_id",
        "event_id",
        (_cents("value").cast("double") / 100.0).alias("value"),
        F.col("ts").alias("valid_from"),
        F.lead("ts", 1).over(w).alias("valid_to"),
        F.lead("ts", 1).over(w).isNull().alias("is_current"),
    )


ORACLE_SCD2 = """
SELECT user_id, event_id,
       CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE) / 100.0 AS value,
       ts AS valid_from,
       lead(ts, 1) OVER w AS valid_to,
       lead(ts, 1) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
"""


def q_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate report over orders/lineitem (operators/
    quality.py): NOT-NULL columns in one scan-aggregate, key-uniqueness
    of (orderkey, linenumber), a value-range check, and referential
    integrity lineitem.l_orderkey -> orders.o_orderkey via one anti
    join. One (check, n_violations) row each — the publish gate is
    max(n_violations) == 0. The synthetic data is clean, so every count
    is 0; the oracle recomputes each constraint independently, proving
    the checks measure what they claim (and the unit test proves they
    fire on dirty data)."""
    from ..operators.quality import (
        check_in_range,
        check_not_null,
        check_references,
        check_unique,
        run_checks,
    )

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return run_checks(
        check_not_null(li, ["l_orderkey", "l_quantity", "l_shipdate"]),
        check_unique(li, ["l_orderkey", "l_linenumber"]),
        check_in_range(li, "l_discount", lo=0.0, hi=1.0),
        check_references(li, ["l_orderkey"], orders, ["o_orderkey"]),
    )


ORACLE_QUALITY_REPORT = """
SELECT 'not_null:l_orderkey' AS check,
       CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations FROM lineitem
UNION ALL
SELECT 'not_null:l_quantity',
       CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'not_null:l_shipdate',
       CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'unique:l_orderkey,l_linenumber',
       CAST(COALESCE(SUM(n), 0) AS BIGINT)
FROM (SELECT COUNT(*) AS n FROM lineitem
      GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)
UNION ALL
SELECT 'range:l_discount',
       CAST(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 1.0
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'fk:l_orderkey',
       CAST(COUNT(*) AS BIGINT)
FROM (SELECT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL) l
WHERE l.l_orderkey NOT IN (SELECT o_orderkey FROM orders)
"""


def q_agg_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-complete daily revenue per event_type: a generated day
    spine (sequence over the fixed reporting window) CROSS JOIN the type
    dimension, LEFT-joined to the day aggregate, gaps zero-filled — the
    reporting twin of resample_locf (which carries values forward;
    reporting wants explicit zeros). The generated spine is tiny
    (days x types), so the only real work is the one scan aggregate."""
    ev = _t(spark, sf_dir, "events")
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-30").cast("date"),
            )
        ).alias("day")
    )
    types = ev.select("event_type").distinct()
    agg = (
        ev.groupBy(
            F.col("ts").cast("date").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_cents("value")).alias("__c"),
        )
    )
    return (
        days.crossJoin(types)
        .join(agg, ["day", "event_type"], "left")
        .select(
            # DATE comes back from Spark as python objects but from DuckDB
            # as datetime64 — emit midnight TIMESTAMPs so the dtype-strict
            # hash compare sees the same thing from both engines
            F.col("day").cast("timestamp").alias("day"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
            (F.coalesce(F.col("__c"), F.lit(0)).cast("double") / 100.0)
            .alias("revenue"),
        )
    )


ORACLE_DAILY_GAPFILL = """
WITH days AS (
  SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                INTERVAL 1 DAY))::DATE AS day
),
types AS (SELECT DISTINCT event_type FROM events),
agg AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         COUNT(*) AS n,
         SUM(CAST(round(value * 100) AS BIGINT)) AS c
  FROM events GROUP BY 1, 2
)
SELECT CAST(d.day AS TIMESTAMP) AS day, t.event_type,
       CAST(COALESCE(a.n, 0) AS BIGINT) AS n_events,
       CAST(COALESCE(a.c, 0) AS DOUBLE) / 100.0 AS revenue
FROM days d CROSS JOIN types t
LEFT JOIN agg a ON a.day = d.day AND a.event_type = t.event_type
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation via FULL OUTER join — the table-diff every
    migration/backfill validation runs: per-user spend aggregates of the
    first vs second half of the month, keys classified added / removed /
    changed / unchanged with the cent deltas. One aggregate per side,
    one full-outer join on the key; at 100 TB both sides shuffle once
    and AQE handles the sizes."""
    ev = _t(spark, sf_dir, "events")
    mid = F.lit("2024-01-15 00:00:00").cast("timestamp")
    cents = _cents("value")

    def side(pred, tag):
        return ev.filter(pred).groupBy("user_id").agg(
            F.sum(cents).alias(f"c_{tag}"), F.count(F.lit(1)).alias(f"n_{tag}")
        )

    a = side(F.col("ts") < mid, "a")
    b = side(F.col("ts") >= mid, "b")
    joined = a.join(b, "user_id", "full_outer")
    status = (
        F.when(F.col("c_a").isNull(), F.lit("added"))
        .when(F.col("c_b").isNull(), F.lit("removed"))
        .when(F.col("c_a") == F.col("c_b"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        "user_id",
        status.alias("status"),
        (F.coalesce(F.col("c_b"), F.lit(0)) - F.coalesce(F.col("c_a"), F.lit(0)))
        .cast("bigint").alias("delta_cents"),
        F.coalesce(F.col("n_a"), F.lit(0)).cast("bigint").alias("n_before"),
        F.coalesce(F.col("n_b"), F.lit(0)).cast("bigint").alias("n_after"),
    )


ORACLE_SNAPSHOT_DIFF = """
WITH a AS (
  SELECT user_id, SUM(CAST(round(value * 100) AS BIGINT)) AS c_a,
         COUNT(*) AS n_a
  FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY user_id
),
b AS (
  SELECT user_id, SUM(CAST(round(value * 100) AS BIGINT)) AS c_b,
         COUNT(*) AS n_b
  FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' GROUP BY user_id
)
SELECT COALESCE(a.user_id, b.user_id) AS user_id,
       CASE WHEN a.c_a IS NULL THEN 'added'
            WHEN b.c_b IS NULL THEN 'removed'
            WHEN a.c_a = b.c_b THEN 'unchanged'
            ELSE 'changed' END AS status,
       CAST(COALESCE(b.c_b, 0) - COALESCE(a.c_a, 0) AS BIGINT) AS delta_cents,
       CAST(COALESCE(a.n_a, 0) AS BIGINT) AS n_before,
       CAST(COALESCE(b.n_b, 0) AS BIGINT) AS n_after
FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with watermark-bounded state
    (``dropDuplicatesWithinWatermark``): the at-least-once ingestion
    defense — the same event delivered twice must reach the sink once.
    The input stream is the events file-stream unioned with ITSELF (every
    record duplicated), the state key is event_id, and the watermark
    bounds how long each key is remembered — the property that keeps the
    state store finite under unbounded ingestion. Drained with
    availableNow; the result hash-matches the batch DISTINCT oracle.
    Fourth streaming class at the gate (stateful sessionize, windowed
    agg, interval join, now dedup)."""
    import uuid

    from ..sources.reader import load_stream
    from ..streaming.run import drain_available_now

    def one():
        return load_stream(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "event_type",
            _cents("value").alias("__c"),
        )

    doubled = one().unionByName(one())
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sink = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    out = drain_available_now(deduped, sink)
    return out.select(
        "event_id", "user_id", "ts", "event_type",
        (F.col("__c").cast("double") / 100.0).alias("value"),
    )


ORACLE_STREAM_DEDUP = """
SELECT event_id, user_id, ts, event_type,
       CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE) / 100.0 AS value
FROM events
"""


def q_streaming_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-seen-per-key through the custom
    ``applyInPandasWithState`` kernel (streaming/stateful.py) with
    round-6 min-event-id emission: each user's FIRST event — by event_id,
    not arrival order — passes through; everything later is dropped
    against one flag of state per key.

    Determinism at the gate is by construction: the events table is
    written to a temp dir hash-partitioned into 4 files BY user_id, so
    every key's rows live in exactly one file; the stream reads one file
    per trigger (4 genuine micro-batches), each key's whole history
    arrives in a single batch, and the kernel's within-batch min under
    ``order_cols=["event_id"]`` is therefore the GLOBAL min — the batch
    oracle (row_number over event_id = 1 per user). At scale the same
    property holds whenever ingestion files are key-partitioned (the
    standard compacted-upstream layout); otherwise first-batch-wins
    applies, documented on the kernel."""
    import tempfile
    import uuid

    from ..streaming.run import drain_available_now
    from ..streaming.stateful import streaming_first_seen

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    sink = f"stream_first_seen_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory(prefix="fis_first_seen_src_") as src_dir:
        ev.repartition(4, "user_id").write.mode("overwrite").parquet(src_dir)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        out = streaming_first_seen(
            stream, ["user_id"], order_cols=["event_id"]
        )
        return drain_available_now(out, sink)


ORACLE_STREAM_FIRST_SEEN = """
SELECT event_id, user_id, ts, event_type, value FROM (
  SELECT event_id, user_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events) WHERE rn = 1
"""


CHUNK_TOKENS, CHUNK_OVERLAP = 64, 8


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline document chunking: 64-token windows with 8-token
    overlap, pure Catalyst (split -> start sequence -> slice/join ->
    posexplode), zero shuffle — chunks stream out of the scan. Oracle
    reproduces the same slicing with DuckDB list functions."""
    from ..operators.sampling import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, CHUNK_TOKENS, CHUNK_OVERLAP)


ORACLE_CHUNKS = f"""
WITH toks AS (
  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
),
starts AS (
  SELECT doc_id, t,
         range(0, greatest(1, CAST(ceil((len(t) - {CHUNK_OVERLAP}) /
               ({CHUNK_TOKENS - CHUNK_OVERLAP}.0) ) AS BIGINT))) AS idxs
  FROM toks
)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_idx,
       array_to_string(t[i * {CHUNK_TOKENS - CHUNK_OVERLAP} + 1 :
                         i * {CHUNK_TOKENS - CHUNK_OVERLAP} + {CHUNK_TOKENS}], ' ')
         AS chunk_text,
       CAST(len(t[i * {CHUNK_TOKENS - CHUNK_OVERLAP} + 1 :
                   i * {CHUNK_TOKENS - CHUNK_OVERLAP} + {CHUNK_TOKENS}]) AS INTEGER)
         AS n_tokens
FROM starts, unnest(idxs) AS u(i)
"""


CDC_DIVISOR = 128


def q_chunk_documents_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (basic CDC, gear rolling hash over an
    8-char window): boundaries are a function of LOCAL text, so an edit
    re-chunks only its neighborhood — the primitive for incremental
    storage dedup and per-chunk artifact caching across document
    revisions, where the fixed-window chunkers above invalidate every
    chunk after an insert. Integer-exact hashes (no xxhash — DuckDB
    cannot replicate it), so the oracle reproduces boundaries AND chunk
    fingerprints bit-for-bit. Edit-stability and the Python-reference
    equivalence are property-pinned in tests/test_north_star.py."""
    from ..operators.sampling import cdc_chunks

    docs = _t(spark, sf_dir, "documents")
    return cdc_chunks(docs, divisor=CDC_DIVISOR)


def _cdc_gear_sql() -> str:
    from ..operators.sampling import CDC_WEIGHTS

    terms = ["{} * code".format(CDC_WEIGHTS[0])] + [
        f"{w} * lag(code, {k}) OVER w" for k, w in enumerate(CDC_WEIGHTS)
        if k > 0
    ]
    return " + ".join(terms)


def _oracle_cdc() -> str:
    from ..functions.text import FP_BASE, FP_MOD
    from ..operators.sampling import CDC_WINDOW

    return f"""
WITH pos AS (
  SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS pos
  FROM documents WHERE length(text) > 0
),
codes AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         CAST(unicode(text[pos:pos]) AS BIGINT) AS code
  FROM pos
),
gear AS (
  SELECT doc_id, pos, code,
         CASE WHEN pos >= {CDC_WINDOW}
              THEN ({_cdc_gear_sql()}) % {CDC_DIVISOR} = 0
              ELSE FALSE END AS cut
  FROM codes
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
assigned AS (
  SELECT doc_id, pos, code,
         coalesce(SUM(CASE WHEN cut THEN 1 ELSE 0 END) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS chunk_idx
  FROM gear
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       min(pos) AS chunk_start,
       CAST(count(*) AS BIGINT) AS chunk_len,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT), list(code ORDER BY pos)),
         (acc, x) -> (acc * {FP_BASE} + x) % {FP_MOD}) AS chunk_hash
FROM assigned
GROUP BY doc_id, chunk_idx
"""


ORACLE_CHUNKS_CDC = _oracle_cdc()


def q_chunk_documents_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME chunking semantics executed through the Spark 4 Python
    UDTF API (LATERAL table function, Arrow-batched) instead of Catalyst
    higher-order functions — the extensibility template for chunkers
    Catalyst can't express (real tokenizers, sentence segmenters). Two
    execution strategies, one oracle (ORACLE_CHUNKS)."""
    from ..functions.table_functions import chunk_documents_udtf

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents_udtf(docs, CHUNK_TOKENS, CHUNK_OVERLAP)


def q_text_top_tokens_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k: the 5 most frequent tokens per language — a window
    over grouped counts (count desc, token asc tiebreak). The global
    twin is text_top_tokens; the per-group form adds the rank window
    over the aggregate, still one explode + one grouped count."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "token", "n", F.col("rnk").cast("bigint").alias("rnk"))
    )


ORACLE_TOP_TOKENS_BY_LANG = """
WITH counts AS (
  SELECT lang, u.token, COUNT(*) AS n
  FROM documents, unnest(string_split(trim(text), ' ')) AS u(token)
  GROUP BY lang, u.token
)
SELECT lang, token, n, rnk FROM (
  SELECT lang, token, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rnk
  FROM counts) WHERE rnk <= 5
"""


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing last-touch attribution: each purchase credited to the
    same user's most recent click within the preceding hour — the
    backward as-of join with tolerance, composed over event streams
    (the forward/nearest directions are gated by asof_join_*; this adds
    the canonical backward+tolerance business shape). Oracle is the
    correlated-max formulation DuckDB evaluates directly."""
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        _cents("value").alias("__c"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    out = asof_join(
        purchases, clicks, ["user_id"],
        left_ts="purchase_ts", right_ts="click_ts",
        right_columns=["click_ts", "click_id"],
        direction="backward", tolerance_seconds=3600, tiebreak="click_id",
    )
    return out.select(
        "user_id", "purchase_id", "purchase_ts",
        (F.col("__c").cast("double") / 100.0).alias("purchase_value"),
        "click_ts", "click_id",
    )


ORACLE_ATTRIBUTION = """
WITH p AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts AS click_ts, event_id AS click_id
  FROM events WHERE event_type = 'click'
),
matched AS (
  SELECT p.*, c.click_ts, c.click_id,
         row_number() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.click_ts DESC, c.click_id DESC) AS rn
  FROM p LEFT JOIN c
    ON c.user_id = p.user_id
   AND c.click_ts <= p.purchase_ts
   AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
)
SELECT user_id, purchase_id, purchase_ts,
       CAST(c AS DOUBLE) / 100.0 AS purchase_value, click_ts, click_id
FROM matched WHERE rn = 1
"""


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user recency (days since last
    purchase at the window end), frequency (purchase count) and monetary
    (cents) scores bucketed into quartiles with NTILE, concatenated into
    the classic 3-digit segment. Integer inputs throughout; the NTILE
    order carries a user_id tiebreak so bucketing is deterministic."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    asof = F.lit("2024-01-31 00:00:00").cast("timestamp")
    base = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(_cents("value")).alias("monetary_cents"),
        )
        .select(
            "user_id",
            F.datediff(asof, F.col("last_ts")).cast("bigint").alias("recency_days"),
            F.col("frequency").cast("bigint").alias("frequency"),
            "monetary_cents",
        )
    )
    r_w = Window.orderBy(F.col("recency_days").asc(), F.col("user_id").asc())
    f_w = Window.orderBy(F.col("frequency").desc(), F.col("user_id").asc())
    m_w = Window.orderBy(F.col("monetary_cents").desc(), F.col("user_id").asc())
    return base.select(
        "user_id", "recency_days", "frequency",
        (F.col("monetary_cents").cast("double") / 100.0).alias("monetary"),
        F.ntile(4).over(r_w).cast("bigint").alias("r_score"),
        F.ntile(4).over(f_w).cast("bigint").alias("f_score"),
        F.ntile(4).over(m_w).cast("bigint").alias("m_score"),
    ).withColumn(
        "segment",
        F.concat(F.col("r_score"), F.col("f_score"), F.col("m_score")),
    )


ORACLE_RFM = """
WITH base AS (
  SELECT user_id,
         CAST(date_diff('day', CAST(max(ts) AS DATE),
                        DATE '2024-01-31') AS BIGINT) AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         SUM(CAST(round(value * 100) AS BIGINT)) AS monetary_cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT user_id, recency_days, frequency,
       CAST(monetary_cents AS DOUBLE) / 100.0 AS monetary,
       CAST(ntile(4) OVER (ORDER BY recency_days ASC, user_id ASC) AS BIGINT) AS r_score,
       CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id ASC) AS BIGINT) AS f_score,
       CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, user_id ASC) AS BIGINT) AS m_score,
       CAST(ntile(4) OVER (ORDER BY recency_days ASC, user_id ASC) AS VARCHAR)
         || CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id ASC) AS VARCHAR)
         || CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, user_id ASC) AS VARCHAR)
         AS segment
FROM base
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral transition matrix: counts of consecutive event-type
    pairs per user timeline (the Markov-chain estimate product teams
    read). One lag window over (user, ts) with an event_id tiebreak for
    simultaneous events, then a grouped count — one shuffle for the
    window, map-side combine for the count."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = ev.select(
        F.lag("event_type", 1).over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    return pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )


ORACLE_TRANSITIONS = """
WITH seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC) AS from_type,
         event_type AS to_type
  FROM events
)
SELECT from_type, to_type, COUNT(*) AS n_transitions
FROM seq WHERE from_type IS NOT NULL
GROUP BY 1, 2
"""


def q_join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: each customer's two most expensive
    orders, written as the LATERAL form (the SQL-surface twin of the
    window top-n — Catalyst decorrelates it into the same rank plan, so
    the declarative form costs nothing at scale)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    orders.createOrReplaceTempView("__lat_orders")
    cust.createOrReplaceTempView("__lat_customer")
    return spark.sql("""
        SELECT c.c_custkey, c.c_name, t.o_orderkey,
               CAST(round(t.o_totalprice * 100) AS BIGINT) AS total_cents
        FROM __lat_customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM __lat_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
        ) t
    """)


ORACLE_LATERAL_TOPN = """
SELECT c.c_custkey, c.c_name, t.o_orderkey,
       CAST(round(t.o_totalprice * 100) AS BIGINT) AS total_cents
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
) t
"""




def q_window_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the DAU/WAU shape.

    COUNT(DISTINCT) cannot ride a sliding window frame, and the naive
    day x events range self-join multiplies the fact table by the window
    width against itself. The distributed form: reduce to distinct
    (day, user) pairs first (one shuffle, web-scale cardinality ~ users
    x days, far below events), then each pair map-side EXPLODES to the
    <=7 window-end days it contributes to and one hash aggregate counts
    distincts per window end. Window ends with no events of their own
    are dropped via a flag carried through the same aggregate — no
    second scan, no join anywhere in the plan."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    target = days.select(
        "user_id",
        "day",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("win_end"),
    )
    return (
        target.groupBy("win_end")
        .agg(
            F.count_distinct("user_id").alias("active_7d"),
            F.max(
                F.when(F.col("day") == F.col("win_end"), 1).otherwise(0)
            ).alias("__real"),
        )
        .filter(F.col("__real") == 1)
        .select(F.col("win_end").alias("day"), "active_7d")
    )


def q_window_sliding_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-partial twin of window_sliding_distinct: per-day
    Datasketches HLL sketches built ONCE from the raw events, then each
    day's trailing-7-day active count is the estimate of a UNION of at
    most 7 daily sketches. This is THE pattern for sliding distincts at
    100 TB — the raw data is touched once (one per-day aggregate); every
    window after that merges kilobyte sketches instead of re-expanding
    events, and the same daily sketches serve any window width, daily
    AND weekly AND monthly, for free. Approximate by design (rows-only
    gate; accuracy vs the exact twin pinned in pytest)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    contrib = daily.select(
        "day",
        "sk",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("win_end"),
    )
    return (
        contrib.groupBy("win_end")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("active_7d"),
            F.max(
                F.when(F.col("day") == F.col("win_end"), 1).otherwise(0)
            ).alias("__real"),
        )
        .filter(F.col("__real") == 1)
        .select(F.col("win_end").alias("day"), "active_7d")
    )


ORACLE_SLIDING_DISTINCT = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
)
SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS active_7d
FROM (SELECT DISTINCT day FROM du) d
JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
GROUP BY 1
"""


PATH_TOP_K = 20


def q_window_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-event EXACT median of spend per user — the robust
    (outlier-proof) twin of a rolling mean, the shape behind anomaly
    baselines and robust feature smoothing.

    Spark refuses ``median``/``percentile`` over a window FRAME
    (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC — only whole-partition),
    so the distributed form is frame-bounded ``collect_list`` ->
    ``array_sort`` -> integer middle-element interpolation, all
    JVM-side expressions. State per row is bounded by the frame width
    (7 values), so unlike a whole-partition collect this scales with
    the frame, not the partition; work is partition-parallel per user.
    Median in cents: (lo + hi) / 2 of the two middle sorted values —
    one IEEE-exact division, matching DuckDB's interpolating median
    bit-for-bit."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    arr = F.array_sort(F.collect_list("__cents").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, F.floor((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (F.floor(n / 2) + 1).cast("int"))
    return (
        ev.withColumn("__cents", F.round(F.col("value") * 100).cast("bigint"))
        .select(
            "event_id",
            "user_id",
            ((lo + hi).cast("double") / F.lit(2.0)).alias("med7_cents"),
        )
    )


ORACLE_MOVING_MEDIAN = """
SELECT event_id, user_id,
       CAST(median(CAST(round(value * 100) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS med7_cents
FROM events
"""


def q_agg_salted_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-tolerant aggregation over a HOT grouping key: events has only
    a handful of event types, so a direct groupBy funnels millions of
    rows per type into single reduce tasks at scale. The salted
    two-phase form (operators/skew.py) fans every type over 32 salts
    first, then merges the tiny partial table — row-identical to the
    direct groupBy (the oracle IS the direct form), different shuffle
    shape. AQE splits skewed join partitions but not skewed agg keys;
    this is the manual lever."""
    from ..operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events").withColumn(
        "__cents", F.round(F.col("value") * 100).cast("bigint")
    )
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n_events": ("count", "event_id"),
            "__s": ("sum", "__cents"),
            "first_ts": ("min", "ts"),
            "last_ts": ("max", "ts"),
        },
        salt_col="event_id",
    )
    return out.select(
        "event_type",
        "n_events",
        (F.col("__s").cast("double") / 100.0).alias("spend"),
        "first_ts",
        "last_ts",
    )


ORACLE_SALTED_HOT_KEYS = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS spend,
       min(ts) AS first_ts,
       max(ts) AS last_ts
FROM events GROUP BY event_type
"""


def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining: the top-20 most common 3-step event-type paths
    (e1 -> e2 -> e3 over consecutive events of one user). One window
    (lead x2 over the same sort) turns the event log into path triples
    map-side after a single per-user shuffle; the count aggregate and a
    deterministic total order finish it. The generalized shape of
    event_transitions' 2-step matrix."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.col("event_type").alias("e1"),
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "e1", "e2", "e3")
        .limit(PATH_TOP_K)
    )


ORACLE_EVENT_PATHS = f"""
WITH hops AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT e1, e2, e3, count(*) AS n_paths
FROM hops WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n_paths DESC, e1, e2, e3
LIMIT {PATH_TOP_K}
"""


MAD_K = 4.4478  # 3 * 1.4826 (normal-consistency constant), one literal


def q_agg_value_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion per event type: median, MAD (median absolute
    deviation) and the MAD-rule outlier count — the robust twin of the
    z-score outlier filter (one extreme value moves a mean/stddev fence,
    not a median/MAD one). Both medians ride exact interpolated
    percentiles (Spark percentile == DuckDB quantile_cont bit-for-bit,
    NOTES.md), attached per-row by two stacked unbounded windows over
    ONE event_type exchange; the final aggregate reuses that
    partitioning. Hash-exact: subtraction/abs/compare on identical
    doubles."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    d = (
        ev.select("event_type", "value")
        .withColumn("med", F.percentile("value", F.lit(0.5)).over(w))
        .withColumn("absdev", F.abs(F.col("value") - F.col("med")))
        .withColumn("mad", F.percentile("absdev", F.lit(0.5)).over(w))
    )
    return d.groupBy("event_type").agg(
        F.min("med").alias("median_value"),
        F.min("mad").alias("mad"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when(F.col("absdev") > F.lit(MAD_K) * F.col("mad"), 1).otherwise(0)
        ).alias("n_outliers"),
    )


ORACLE_VALUE_MAD = f"""
WITH m AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
),
d AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS absdev
  FROM events e JOIN m USING (event_type)
),
md AS (
  SELECT event_type, quantile_cont(absdev, 0.5) AS mad FROM d GROUP BY 1
)
SELECT d.event_type,
       min(d.med) AS median_value,
       min(md.mad) AS mad,
       count(*) AS n_events,
       CAST(sum(CASE WHEN d.absdev > {MAD_K} * md.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM d JOIN md USING (event_type)
GROUP BY 1
"""


def q_event_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival statistics: gaps between consecutive
    events (lag over the per-user time order, exact integer
    microseconds), then exact interpolated median/p90 and max per user
    — the cadence profile feeding bot/burst detection and session-gap
    tuning. One window shuffle for the lag (keyed by user), one
    re-aggregation on the same key — with AQE the two stages share the
    user_id partitioning, so the data moves once. Gap percentiles on
    integer microseconds interpolate identically in both engines."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    gaps = (
        ev.select(
            "user_id",
            (
                F.unix_micros(F.col("ts"))
                - F.lag(F.unix_micros(F.col("ts"))).over(
                    Window.partitionBy("user_id").orderBy(
                        F.col("ts").asc(), F.col("event_id").asc()
                    )
                )
            ).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.expr("percentile(gap_us, array(0.5, 0.9))").alias("p"),
            F.max("gap_us").alias("max_gap_us"),
        )
        .selectExpr(
            "user_id",
            "n_gaps",
            "p[0] AS p50_gap_us",
            "p[1] AS p90_gap_us",
            "max_gap_us",
        )
    )


ORACLE_INTERARRIVAL = """
WITH gaps AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS gap_us
  FROM events
)
SELECT user_id,
       count(*) AS n_gaps,
       quantile_cont(gap_us, 0.5) AS p50_gap_us,
       quantile_cont(gap_us, 0.9) AS p90_gap_us,
       max(gap_us) AS max_gap_us
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY user_id
"""


LASTK_K = 3


def q_features_last_k_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-model feature shape: for every event, the user's
    previous K=3 event types in order (joined to one string — the
    hash-stable encoding) and their spend sum — the
    recent-history context window a sequence recommender consumes.
    ONE keyed window with a bounded rows-frame serves both features; the
    frame order (ts, event_id) is total, so the collected sequence is
    deterministic and the value hash pins the exact event ORDER, not
    just membership. Map-side bounded state — the frame never exceeds K
    rows regardless of a user's history length."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-LASTK_K, -1)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.concat_ws(",", F.collect_list("event_type").over(w)).alias(
            "prev_types"
        ),
        F.coalesce(
            F.sum(_cents("value")).over(w), F.lit(0)
        ).alias("prev_cents"),
    )


ORACLE_LAST_K = f"""
SELECT event_id, user_id,
       COALESCE(array_to_string(
         list(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN {LASTK_K} PRECEDING AND 1 PRECEDING), ','), '')
         AS prev_types,
       CAST(COALESCE(SUM(CAST(round(value * 100) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN {LASTK_K} PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS prev_cents
FROM events
"""


def q_trend_theil_sen(
    spark: SparkSession, sf_dir: str, max_pairs_per_key: int | None = None
) -> DataFrame:
    """Theil-Sen ROBUST trend per user: the median of all pairwise
    spend slopes — up to ~29% corrupted observations cannot move it,
    unlike the least-squares slope a single outlier owns. Slope units
    are cents/day; each pairwise slope is ONE double division of exact
    integers (cent delta x 86400e6 over the microsecond delta, pinned
    multiply-before-divide order), and the median interpolates the two
    middle values exactly like DuckDB's.

    Scale design (both legs bounded, no giant buffers):

    - The median is a windowed rank + two-middle-element interpolation,
      NOT an ``array_sort(collect_list(...))`` single-row array: the
      per-key slope sort runs in WindowExec's spill-able row container,
      so a hot key degrades to disk instead of blowing one aggregation
      buffer (k = 10^4 events => ~5x10^7 slopes => ~400 MB would sit in
      ONE array under the old shape).
    - ``max_pairs_per_key`` is a HARD cap on pairs per key: events are
      subsampled per key by a deterministic hash draw
      (xxhash64(user_id, event_id) rank — the ``training_negative_pairs``
      recipe) down to the largest m with C(m,2) <= max_pairs_per_key,
      BEFORE the self-join, so the O(k^2) pair set is never generated,
      not merely filtered. Subsampled Theil-Sen over a point subsample
      is the standard estimator escape. When a key has k <= m events the
      draw keeps everything, so capped == uncapped below the cap — the
      registry/gate config stays uncapped (exact oracle), production
      sets the cap.

    The self-join keys on user_id, so no cross-user pair ever
    materializes."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id"),
        F.unix_micros("ts").alias("__us"),
        _cents("value").alias("__c"),
    )
    if max_pairs_per_key is not None:
        if max_pairs_per_key < 1:
            raise ValueError("max_pairs_per_key must be >= 1")
        # largest m with m*(m-1)/2 <= max_pairs_per_key
        m = int((1 + math.isqrt(1 + 8 * max_pairs_per_key)) // 2)
        w_draw = Window.partitionBy("user_id").orderBy(
            F.xxhash64("user_id", "event_id"), "event_id"
        )
        ev = (
            ev.withColumn("__draw", F.row_number().over(w_draw))
            .filter(F.col("__draw") <= F.lit(m))
            .drop("__draw")
        )
    a, b = ev.alias("a"), ev.alias("b")
    slopes = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_id") < F.col("b.event_id"))
        & (F.col("a.__us") != F.col("b.__us")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        (
            ((F.col("b.__c") - F.col("a.__c")) * F.lit(86_400_000_000).cast("bigint"))
            .cast("double")
            / (F.col("b.__us") - F.col("a.__us")).cast("double")
        ).alias("slope"),
    )
    # exact median, no giant array: rank each key's slopes by value
    # (the VALUE at rank r is deterministic even with ties), keep only
    # the two middle ranks, interpolate. min==max on odd n. NULL slopes
    # (a NULL value on either endpoint) are EXCLUDED from the median —
    # SQL median()/the old collect_list both skip NULLs — but still
    # count toward n_pairs (the oracle's count(*)): NULLs rank FIRST
    # under asc_nulls_first, so the valid slopes occupy ranks
    # (n_null+1 .. n_pairs) and the two middle VALID ranks are offset
    # by n_null = n_pairs - n_valid. An all-NULL key keeps its rn=1 row
    # so it still emits (user, n_pairs, NULL) like the oracle.
    w_rank = Window.partitionBy("user_id").orderBy(
        F.col("slope").asc_nulls_first()
    )
    w_all = Window.partitionBy("user_id")
    ranked = slopes.select(
        "user_id",
        "slope",
        F.row_number().over(w_rank).alias("__rn"),
        F.count(F.lit(1)).over(w_all).alias("n_pairs"),
        F.count("slope").over(w_all).alias("__n_valid"),
    )
    n_null = F.col("n_pairs") - F.col("__n_valid")
    mid = ranked.filter(
        ((F.col("__n_valid") == 0) & (F.col("__rn") == 1))
        | (F.col("__rn") == n_null + F.floor((F.col("__n_valid") + 1) / 2))
        | (F.col("__rn") == n_null + F.floor(F.col("__n_valid") / 2) + 1)
    )
    return mid.groupBy("user_id", "n_pairs").agg(
        ((F.min("slope") + F.max("slope")) / F.lit(2.0)).alias(
            "slope_cents_per_day"
        )
    ).select("user_id", "n_pairs", "slope_cents_per_day")


ORACLE_THEIL_SEN = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
),
slopes AS (
  SELECT a.user_id,
         CAST((b.c - a.c) * CAST(86400000000 AS BIGINT) AS DOUBLE)
           / CAST(b.us - a.us AS DOUBLE) AS slope
  FROM e a JOIN e b
    ON a.user_id = b.user_id AND a.event_id < b.event_id AND a.us != b.us
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(median(slope) AS DOUBLE) AS slope_cents_per_day
FROM slopes GROUP BY user_id
"""


def q_features_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED average spend per user — the billing/sensor feature
    where each observation holds until the next one, so a value's weight
    is how LONG it was current, not how often it was sampled (a plain
    mean over-counts burst periods). Each row's validity runs to the
    user's next event (the SCD2 lead interval); the last observation has
    no successor and carries no weight.

    Exactness: weights are whole MILLISECONDS (µs delta integer-divided
    by 1000 — truncating identically in both engines), the weighted sum
    is integer cents x ms (bounded ~1e15 per user here, int64-safe; the
    overflow headroom is documented), and the average is ONE double
    division. One keyed window + one aggregate — two shuffles on
    user_id which AQE coalesces into the same exchange reuse."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("__us", "event_id")
    rows = ev.select(
        "user_id",
        "event_id",
        _cents("value").alias("__c"),
        F.unix_micros("ts").alias("__us"),
    ).withColumn("__next_us", F.lead("__us", 1).over(w))
    weighted = rows.filter(F.col("__next_us").isNotNull()).select(
        "user_id",
        "__c",
        ((F.col("__next_us") - F.col("__us")) / F.lit(1000))
        .cast("bigint")
        .alias("__ms"),
    )
    return weighted.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("__ms").alias("observed_ms"),
        (
            F.sum(F.col("__c") * F.col("__ms")).cast("double")
            / F.sum("__ms").cast("double")
        ).alias("twa_cents"),
    )


ORACLE_TIME_WEIGHTED_AVG = """
WITH rows_next AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) AS c,
         epoch_us(ts) AS us,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_us
  FROM events
),
weighted AS (
  SELECT user_id, c, CAST((next_us - us) // 1000 AS BIGINT) AS ms
  FROM rows_next WHERE next_us IS NOT NULL
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(ms) AS BIGINT) AS observed_ms,
       CAST(sum(c * ms) AS DOUBLE) / CAST(sum(ms) AS DOUBLE) AS twa_cents
FROM weighted GROUP BY user_id
"""


def q_materialize_moments_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALGEBRAIC-aggregate IVM at the gate: per-user mean AND population
    variance maintained through two half-range refreshes of sufficient
    statistics (n, sum, sum-of-squares — variance is not additive, its
    moments are; operators/incremental.py refresh_moments_agg, same
    ledgered exactly-once commit protocol as the additive family, retry
    of the second slice re-applied as a committed no-op). The oracle is
    the full-range recompute of the identical integer formula — equality
    proves the moment merge is exact, not approximately associative."""
    import hashlib
    import shutil
    import tempfile

    from ..operators.incremental import read_moments, refresh_moments_agg

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = f"{tempfile.gettempdir()}/fis_momstate_{tag}"
    shutil.rmtree(base, ignore_errors=True)

    ev = _t(spark, sf_dir, "events")
    mid = "2024-01-15 00:00:00"
    cents = _cents("value")
    first = ev.filter(F.col("ts") < F.lit(mid).cast("timestamp"))
    second = ev.filter(F.col("ts") >= F.lit(mid).cast("timestamp"))
    assert refresh_moments_agg(spark, base, first, ["user_id"], cents, "h1")
    assert refresh_moments_agg(spark, base, second, ["user_id"], cents, "h2")
    assert not refresh_moments_agg(spark, base, second, ["user_id"], cents, "h2")
    return read_moments(spark, base)


ORACLE_MOMENTS_INCREMENTAL = """
WITH c AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events
)
SELECT user_id,
       COUNT(*) AS n,
       CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100.0 AS avg_value,
       CAST(COUNT(*) * SUM(cents * cents) - SUM(cents) * SUM(cents) AS DOUBLE)
         / CAST(COUNT(*) * COUNT(*) AS DOUBLE) / 10000.0 AS var_value
FROM c GROUP BY user_id
"""


def q_trend_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact CUSUM changepoint per user: the event index k
    where the cumulative spend deviates most from the user's overall
    trend — argmax_k |n*S_k - k*S_n| (binary segmentation's first
    split, the classic level-shift detector). The cross-multiplied
    form keeps the whole statistic in BIGINT: it is n^2 times the
    textbook |S_k/k-ish mean-shift CUSUM|, so the ARGMAX is identical
    and no ratio, mean, or float ever enters — the deviation column
    value-hashes exactly against any engine evaluating the same
    integers. int64 headroom: |n*S_k - k*S_n| <= 2*n*max|S| — at 10^5
    events/key of 10^6-cent values that is ~2*10^16, inside int64;
    promote to decimal(38,0) past that (the t-closeness pattern).

    One shuffle: row_number, running sum, and the key totals all ride
    one (user_id, ts, event_id) window partitioning; the argmax is a
    second window ORDER (a sort, not an exchange) over dev DESC with
    the earliest k breaking exact ties. Output: user_id, n, cp_k (the
    1-based changepoint index), cp_ts (its timestamp), cp_dev (the
    BIGINT deviation)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", _cents("value").alias("__c")
    )
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy("user_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    scored = (
        ev.withColumn("k", F.row_number().over(w_ord))
        .withColumn("s_k", F.sum("__c").over(w_cum))
        .withColumn("n", F.count(F.lit(1)).over(w_all))
        .withColumn("s_n", F.sum("__c").over(w_all))
        .withColumn(
            "dev",
            F.abs(F.col("n") * F.col("s_k") - F.col("k") * F.col("s_n")),
        )
    )
    w_pick = Window.partitionBy("user_id").orderBy(
        F.desc("dev"), F.asc("k")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w_pick))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n"),
            F.col("k").cast("bigint").alias("cp_k"),
            F.col("ts").alias("cp_ts"),
            F.col("dev").alias("cp_dev"),
        )
    )


ORACLE_CUSUM_CHANGEPOINT = """
WITH scored AS (
  SELECT user_id, ts,
         ROW_NUMBER() OVER w AS k,
         SUM(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS s_k,
         COUNT(*) OVER (PARTITION BY user_id) AS n,
         SUM(cents) OVER (PARTITION BY user_id) AS s_n
  FROM (
    SELECT user_id, ts, event_id,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
  )
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
dev AS (
  SELECT user_id, ts, k, n, ABS(n * s_k - k * s_n) AS dev,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ABS(n * s_k - k * s_n) DESC, k ASC)
           AS rn
  FROM scored
)
SELECT user_id, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS cp_k,
       ts AS cp_ts, CAST(dev AS BIGINT) AS cp_dev
FROM dev WHERE rn = 1
"""


def q_trend_ols_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares trend INGREDIENTS per user, all BIGINT: n, sum_x,
    sum_y, sum_xy, sum_x2 with x = days since epoch and y = cents. The
    OLS slope is (n*sum_xy - sum_x*sum_y) / (n*sum_x2 - sum_x^2) — one
    float division OUTSIDE the query, reconstructed in the test net —
    so the hashed row is pure integer sufficient statistics, the same
    *_counts discipline as BM25/logprob/PSI (completing the trend
    family: Theil-Sen robust slope, CUSUM changepoint, OLS). One hash
    aggregate, map-side combine, no window, no join. int64 headroom:
    sum_xy <= n * 2*10^4 days * 10^6 cents — ~2*10^16 at 10^6 rows/key,
    inside int64."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("bigint")
        .alias("__x"),
        _cents("value").alias("__y"),
    )
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("sum_x"),
        F.sum("__y").alias("sum_y"),
        F.sum(F.col("__x") * F.col("__y")).alias("sum_xy"),
        F.sum(F.col("__x") * F.col("__x")).alias("sum_x2"),
    )


ORACLE_OLS_COUNTS = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(x) AS BIGINT) AS sum_x,
       CAST(SUM(y) AS BIGINT) AS sum_y,
       CAST(SUM(x * y) AS BIGINT) AS sum_xy,
       CAST(SUM(x * x) AS BIGINT) AS sum_x2
FROM (
  SELECT user_id,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events
)
GROUP BY user_id
"""


def q_trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test INGREDIENTS per user, all BIGINT
    (completing the trend family beside Theil-Sen, CUSUM, and OLS): the
    S statistic = sum over day-pairs i<j of sign(y_j - y_i) on the
    DAILY activity series, plus the concordant / discordant / tied
    pair counts n_days needs for the variance term (the one float
    step, reconstructed outside the hash like every *_counts query).
    Shape: one hash aggregate to the daily series first (map-side
    combine, rows -> days), THEN the pair self-join — so the quadratic
    term rides the CALENDAR, not the corpus: D(D-1)/2 pairs per key
    with D = distinct active days (here <= 30; a year is 66k pairs per
    key), invariant to row count at 100 TB. The join is an equi-join
    on user with the day inequality as residual, never a cross."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "user_id",
            F.to_date("ts").alias("__day"),
        )
        .agg(F.count(F.lit(1)).alias("__y"))
    )
    a = daily.select(
        F.col("user_id").alias("__u"),
        F.col("__day").alias("__d1"),
        F.col("__y").alias("__y1"),
    )
    b = daily.select(
        F.col("user_id").alias("__u2"),
        F.col("__day").alias("__d2"),
        F.col("__y").alias("__y2"),
    )
    pairs = a.join(
        b, (F.col("__u") == F.col("__u2")) & (F.col("__d1") < F.col("__d2"))
    )
    sgn = F.signum(F.col("__y2") - F.col("__y1")).cast("bigint")
    return (
        pairs.groupBy(F.col("__u").alias("user_id"))
        .agg(
            F.sum(sgn).alias("s_stat"),
            F.sum((sgn == 1).cast("bigint")).alias("n_concordant"),
            F.sum((sgn == -1).cast("bigint")).alias("n_discordant"),
            F.sum((sgn == 0).cast("bigint")).alias("n_tied"),
        )
    )


ORACLE_MANN_KENDALL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
)
SELECT a.user_id,
       CAST(SUM(CASE WHEN b.y > a.y THEN 1
                     WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
         AS s_stat,
       CAST(SUM(CASE WHEN b.y > a.y THEN 1 ELSE 0 END) AS BIGINT)
         AS n_concordant,
       CAST(SUM(CASE WHEN b.y < a.y THEN 1 ELSE 0 END) AS BIGINT)
         AS n_discordant,
       CAST(SUM(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tied
FROM daily a JOIN daily b
  ON a.user_id = b.user_id AND a.day < b.day
GROUP BY a.user_id
"""


def q_agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-key MODE with a deterministic tie rule: each user's
    most frequent event type (highest count; lexicographically smallest
    type on ties — SQL's mode() leaves ties undefined, this one is
    engine-exact). Two-phase: one hash aggregate to (user, type)
    counts, then one window on the user partition picks the winner and
    carries the user total on the same shuffle (no agg+join diamond —
    the weighted-median lesson)."""
    from pyspark.sql import Window

    counts = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_pick = Window.partitionBy("user_id").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    w_all = Window.partitionBy("user_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w_pick))
        .withColumn("n_total", F.sum("n").over(w_all))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event_type"),
            F.col("n").alias("mode_n"),
            "n_total",
        )
    )


ORACLE_MODE_EXACT = """
WITH counts AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT user_id, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY n DESC, event_type ASC) AS rn,
         CAST(SUM(n) OVER (PARTITION BY user_id) AS BIGINT) AS n_total
  FROM counts
)
SELECT user_id, event_type AS mode_event_type, n AS mode_n, n_total
FROM ranked WHERE rn = 1
"""
