"""Split from the round-4 queries.py monolith; see queries/__init__.py."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403

# --------------------------------------------------------------------------
# Reference surface: time-range scan (S2+P1+F1, reference :479-513)
# --------------------------------------------------------------------------

PULL_ALL_START, PULL_ALL_END = "2024-01-08 00:00:00", "2024-01-22 00:00:00"


def q_pull_all_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return time_range_scan(
        ev, ["user_id"], ["event_id", "event_type", "value"], "ts",
        PULL_ALL_START, PULL_ALL_END,
    )


ORACLE_PULL_ALL = f"""
SELECT user_id, event_id, event_type, value, ts
FROM events
WHERE ts BETWEEN TIMESTAMP '{PULL_ALL_START}' AND TIMESTAMP '{PULL_ALL_END}'
"""

def q_pull_all_query_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same scan through the S1+S3 path: the table registered in the
    session catalog, wrapped in an inline SQL query source
    (``SparkDataSource(query=...)``), then the time-range operator on top —
    the composition the reference supports via its query sources
    (reference :310, :226)."""
    from ..sources.data_source import SparkDataSource

    _t(spark, sf_dir, "events").createOrReplaceTempView("events_view")
    src = SparkDataSource(
        query="SELECT user_id, event_id, value, ts FROM events_view "
              "WHERE event_type = 'purchase'",
        timestamp_field="ts",
    )
    return time_range_scan(
        src.load(spark), ["user_id"], ["event_id", "value"], "ts",
        PULL_ALL_START, PULL_ALL_END,
    )


ORACLE_PULL_ALL_QUERY = f"""
SELECT user_id, event_id, value, ts
FROM events
WHERE event_type = 'purchase'
  AND ts BETWEEN TIMESTAMP '{PULL_ALL_START}' AND TIMESTAMP '{PULL_ALL_END}'
"""

# --------------------------------------------------------------------------
# Reference surface: latest row per key (A1+J2 -> W1, reference :421-476)
# --------------------------------------------------------------------------


def q_pull_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return latest_per_key(
        ev, ["user_id"], ["event_id", "event_type", "value"], "ts",
        None, "2024-01-01 00:00:00", "2024-01-15 00:00:00",
    )


ORACLE_PULL_LATEST = """
SELECT user_id, event_id, event_type, value, ts
FROM (
  SELECT user_id, event_id, event_type, value, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
  FROM events
  WHERE ts BETWEEN TIMESTAMP '2024-01-01 00:00:00' AND TIMESTAMP '2024-01-15 00:00:00'
) WHERE rn = 1
"""

# --------------------------------------------------------------------------
# Reference flagship: point-in-time join (J1+A2+W1+J5, reference :601-779)
# --------------------------------------------------------------------------

PIT_TTL = 86400  # 1 day


def _pit_spine(ev: DataFrame) -> DataFrame:
    """Deterministic spine derived from the data itself: per user, one row
    at min(ts)+12h and one at max(ts)-3d (so some rows fall outside TTL)."""
    agg = ev.groupBy("user_id").agg(F.min("ts").alias("mn"), F.max("ts").alias("mx"))
    return agg.select(
        "user_id",
        F.explode(
            F.array(
                F.col("mn") + F.expr("INTERVAL 12 HOURS"),
                F.col("mx") - F.expr("INTERVAL 3 DAYS"),
            )
        ).alias("event_timestamp"),
    )


def _pit_query(spark, sf_dir, ttl, strategy, **kwargs):
    ev = _t(spark, sf_dir, "events")
    spine = _pit_spine(ev)
    view = FeatureViewSpec(
        name="user_events",
        source=ev,
        join_keys=["user_id"],
        features=["value", "event_type"],
        timestamp_field="ts",
        created_timestamp_column="event_id",  # unique tiebreak
        ttl_seconds=ttl,
    )
    return point_in_time_join(spine, [view], strategy=strategy, **kwargs)


def q_pit_join_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pit_query(spark, sf_dir, PIT_TTL, "range_join")


def q_pit_join_nottl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pit_query(spark, sf_dir, 0, "range_join")


def q_pit_join_union_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as q_pit_join_ttl via the melt/union-window physical
    strategy (the huge-spine scale path) — same oracle must match."""
    return _pit_query(spark, sf_dir, PIT_TTL, "union_window")


def q_pit_join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics via the range join's shuffle side (pinned by
    ``auto_broadcast_rows=0``): the path a spine too big to broadcast
    takes, AQE picking the join. Same oracle must match."""
    return _pit_query(spark, sf_dir, PIT_TTL, "range_join", auto_broadcast_rows=0)


def _oracle_pit(ttl_clause: str) -> str:
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
           ORDER BY f.ts DESC, f.event_id DESC
         ) AS rn
  FROM spine s
  JOIN events f
    ON s.user_id = f.user_id
   AND f.ts <= s.event_timestamp
   {ttl_clause}
)
SELECT s.user_id, s.event_timestamp, c.value, c.event_type
FROM spine s
LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
  USING (user_id, event_timestamp)
"""


ORACLE_PIT_TTL = _oracle_pit(
    "AND f.ts >= s.event_timestamp - INTERVAL 1 DAY"
)
ORACLE_PIT_NOTTL = _oracle_pit("")

# --------------------------------------------------------------------------
# PIT join, multi-FeatureView: J5 chaining + P2 renames (full_feature_names
# + field_mapping) + per-view TTL (reference :660-662, :765-778)
# --------------------------------------------------------------------------


def q_pit_join_multiview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two FeatureViews over the same spine: ``recent`` (TTL=1d) and
    ``all_time`` (TTL=0, field_mapping value->amount), with
    ``full_feature_names=True`` prefixing outputs ``<view>__<feature>``."""
    ev = _t(spark, sf_dir, "events")
    spine = _pit_spine(ev)
    recent = FeatureViewSpec(
        name="recent", source=ev, join_keys=["user_id"],
        features=["value", "event_type"], timestamp_field="ts",
        created_timestamp_column="event_id", ttl_seconds=PIT_TTL,
    )
    all_time = FeatureViewSpec(
        name="all_time", source=ev, join_keys=["user_id"],
        features=["amount"], timestamp_field="ts",
        created_timestamp_column="event_id", ttl_seconds=0,
        field_mapping={"value": "amount"},
    )
    return point_in_time_join(spine, [recent, all_time], full_feature_names=True)


ORACLE_PIT_MULTIVIEW = """
WITH agg AS (
  SELECT user_id, min(ts) AS mn, max(ts) AS mx FROM events GROUP BY user_id
),
spine AS (
  SELECT user_id, mn + INTERVAL 12 HOUR AS event_timestamp FROM agg
  UNION ALL
  SELECT user_id, mx - INTERVAL 3 DAY FROM agg
),
c_recent AS (
  SELECT s.user_id, s.event_timestamp, f.value, f.event_type,
         row_number() OVER (
           PARTITION BY s.user_id, s.event_timestamp
           ORDER BY f.ts DESC, f.event_id DESC
         ) AS rn
  FROM spine s
  JOIN events f
    ON s.user_id = f.user_id
   AND f.ts <= s.event_timestamp
   AND f.ts >= s.event_timestamp - INTERVAL 1 DAY
),
c_all AS (
  SELECT s.user_id, s.event_timestamp, f.value AS amount,
         row_number() OVER (
           PARTITION BY s.user_id, s.event_timestamp
           ORDER BY f.ts DESC, f.event_id DESC
         ) AS rn
  FROM spine s
  JOIN events f
    ON s.user_id = f.user_id AND f.ts <= s.event_timestamp
)
SELECT s.user_id, s.event_timestamp,
       a.value AS recent__value, a.event_type AS recent__event_type,
       b.amount AS all_time__amount
FROM spine s
LEFT JOIN (SELECT * FROM c_recent WHERE rn = 1) a USING (user_id, event_timestamp)
LEFT JOIN (SELECT * FROM c_all    WHERE rn = 1) b USING (user_id, event_timestamp)
"""

# --------------------------------------------------------------------------
# pull_latest with a real tiebreak: truncate ts to days so (key, day) ties
# exist, break them by created column (fixes reference bug at :428); the
# keep_ties variant reproduces the reference's multiple-rows behavior.
# --------------------------------------------------------------------------

TIEBREAK_START, TIEBREAK_END = "2024-01-01 00:00:00", "2024-01-15 00:00:00"


def _events_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.withColumn("day_ts", F.date_trunc("day", F.col("ts")))


def q_pull_latest_tiebreak(spark: SparkSession, sf_dir: str) -> DataFrame:
    return latest_per_key(
        _events_by_day(spark, sf_dir),
        ["user_id"], ["value", "event_type"], "day_ts",
        "event_id", TIEBREAK_START, TIEBREAK_END,
    )


ORACLE_PULL_LATEST_TIEBREAK = f"""
SELECT user_id, value, event_type, day_ts, event_id FROM (
  SELECT user_id, value, event_type, date_trunc('day', ts) AS day_ts, event_id,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY date_trunc('day', ts) DESC, event_id DESC
         ) AS rn
  FROM events
  WHERE date_trunc('day', ts)
        BETWEEN TIMESTAMP '{TIEBREAK_START}' AND TIMESTAMP '{TIEBREAK_END}'
) WHERE rn = 1
"""


def q_pull_latest_keep_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-compat mode: RANK keeps every row tied on max(ts)
    (the reference's USING-join behavior, :461-464)."""
    return latest_per_key(
        _events_by_day(spark, sf_dir),
        ["user_id"], ["value", "event_type"], "day_ts",
        None, TIEBREAK_START, TIEBREAK_END, keep_ties=True,
    )


ORACLE_PULL_LATEST_KEEP_TIES = f"""
SELECT user_id, value, event_type, day_ts FROM (
  SELECT user_id, value, event_type, date_trunc('day', ts) AS day_ts,
         rank() OVER (PARTITION BY user_id ORDER BY date_trunc('day', ts) DESC) AS rn
  FROM events
  WHERE date_trunc('day', ts)
        BETWEEN TIMESTAMP '{TIEBREAK_START}' AND TIMESTAMP '{TIEBREAK_END}'
) WHERE rn = 1
"""

# --------------------------------------------------------------------------
# Gap sessionization over the event stream table (north-star; batch twin of
# streaming_sessionize)
# --------------------------------------------------------------------------

SESSION_GAP_S = 7200  # 2h — events arrive hourly-ish, so sessions are real


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessionize import sessionize

    ev = _t(spark, sf_dir, "events")
    return sessionize(ev, ["user_id"], "ts", SESSION_GAP_S, tiebreak_cols=["event_id"])


ORACLE_SESSIONIZE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_S * 1_000_000}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         -- CAST: DuckDB's SUM(int) returns HUGEINT which pandas widens to
         -- float64; Spark's running sum is BIGINT. Pin the oracle to BIGINT
         -- so the driver's value hash compares like dtypes.
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM sess GROUP BY user_id, session_id
"""


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming sessionization driven to completion, sharing
    the BATCH query's exact oracle.

    The custom stateful operator (``applyInPandasWithState``,
    streaming/stateful.py) runs over a file-stream read of the same
    events table: every closed session is emitted by the state kernel,
    and the idle timeout flushes each key's final open session in a
    trailing empty batch, after which ``drain_available_now`` observes an
    empty state store and stops the run (streaming/run.py — availableNow
    cannot self-terminate with processing-time timers armed). The stream
    therefore drains to the identical session set the batch
    lag+running-sum formulation produces. ``session_id`` is re-derived
    per key by start order — sessions of one key are disjoint time
    intervals, so the ordering is total and the result is deterministic
    => hash-comparable against ORACLE_SESSIONIZE.

    The reference is batch-only (SURVEY.md §2 lists streaming as
    explicitly absent); this is the north-star continuous-ingestion twin
    of ``sessionize_events``.
    """
    import uuid

    from pyspark.sql import Window

    from ..sources.reader import load_stream
    from ..streaming.run import drain_available_now
    from ..streaming.stateful import streaming_sessionize

    stream = load_stream(spark, sf_dir, "events").select("user_id", "ts")
    sessions = streaming_sessionize(
        stream, ["user_id"], "ts", SESSION_GAP_S, idle_timeout_seconds=0.001
    )
    sink = f"stream_sessions_{uuid.uuid4().hex[:8]}"
    out = drain_available_now(sessions, sink)
    w = Window.partitionBy("user_id").orderBy("session_start")
    return (
        out.withColumn("session_id", F.row_number().over(w).cast("bigint"))
        .select("user_id", "session_id", "session_start", "session_end", "n_events")
    )


def q_streaming_sessionize_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same drained sessionization, delivered through a PARQUET FILE SINK
    instead of the driver-bound memory sink — the distributed delivery
    path a production run uses (executors write; the sink's
    _spark_metadata commit log makes the read-back exactly-once). Shares
    ORACLE_SESSIONIZE, so the file-sink round-trip itself is under the
    value-hash gate."""
    import tempfile

    from pyspark.sql import Window

    from ..sources.reader import load_stream
    from ..streaming.run import drain_available_now_to_files
    from ..streaming.stateful import streaming_sessionize

    stream = load_stream(spark, sf_dir, "events").select("user_id", "ts")
    sessions = streaming_sessionize(
        stream, ["user_id"], "ts", SESSION_GAP_S, idle_timeout_seconds=0.001
    )
    out = drain_available_now_to_files(
        sessions, output_dir=tempfile.mkdtemp(prefix="fis_sink_")
    )
    w = Window.partitionBy("user_id").orderBy("session_start")
    return (
        out.withColumn("session_id", F.row_number().over(w).cast("bigint"))
        .select("user_id", "session_id", "session_start", "session_end", "n_events")
    )


def q_streaming_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time enrichment driven to completion — the
    ``foreachBatch`` PIT path (streaming/pit.py) under the BATCH query's
    exact oracle.

    The spine arrives as a multi-file parquet STREAM (maxFilesPerTrigger
    forces several micro-batches, so the per-trigger join genuinely runs
    more than once); every micro-batch runs the engine's own
    ``point_in_time_join`` against the static feature table and appends
    to a parquet sink from the executors. As-of joins are per-row lookups
    backward in time, so batching the spine cannot change any row's
    answer — the drained union must hash-match ORACLE_PIT_TTL exactly.

    The reference's PIT join is batch-only
    (``data_engine_offline_store.py:601-779``); this is its continuous-
    ingestion twin, and the shape a feature store serves online backfills
    with at 100 TB: each trigger plans like the batch join (TTL-bounded
    feature scan, broadcast spine), state lives in the feature store, the
    stream holds none.
    """
    import tempfile

    from ..operators.pit_join import FeatureViewSpec
    from ..streaming.pit import streaming_pit_join
    from ..streaming.run import drain_writer

    ev = _t(spark, sf_dir, "events")
    spine = _pit_spine(ev)
    view = FeatureViewSpec(
        name="user_events",
        source=ev,
        join_keys=["user_id"],
        features=["value", "event_type"],
        timestamp_field="ts",
        created_timestamp_column="event_id",
        ttl_seconds=PIT_TTL,
    )
    out_dir = tempfile.mkdtemp(prefix="fis_pit_sink_")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    with tempfile.TemporaryDirectory(prefix="fis_pit_spine_") as spine_dir:
        spine.repartition(4).write.mode("overwrite").parquet(spine_dir)
        spine_stream = (
            spark.readStream.schema(spine.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(spine_dir)
        )
        drain_writer(
            streaming_pit_join(spine_stream, [view], sink=_sink,
                               strategy="range_join"),
            "streaming_pit_join",
        )
    return spark.read.parquet(out_dir)

# --------------------------------------------------------------------------


def q_sessionize_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session quality: session count, single-event ("bounce")
    sessions, and the bounce rate — the standard product-analytics
    rollup ON TOP of the oracle-pinned sessionizer (one extra hash
    aggregate over its output; the rate is one exact division of two
    integers)."""
    from ..operators.sessionize import sessionize

    ev = _t(spark, sf_dir, "events")
    sess = sessionize(ev, ["user_id"], "ts", SESSION_GAP_S,
                      tiebreak_cols=["event_id"])
    return sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .alias("n_bounces"),
        (
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("bounce_rate"),
    )


ORACLE_BOUNCE_RATE = f"""
WITH sess AS ({ORACLE_SESSIONIZE})
SELECT user_id,
       count(*) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS bounce_rate
FROM sess
GROUP BY user_id
"""
