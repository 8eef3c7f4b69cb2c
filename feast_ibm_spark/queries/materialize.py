"""Split from the round-4 queries.py monolith; see queries/__init__.py."""

from __future__ import annotations

from ._shared import *  # noqa: F401,F403
from .core import SESSION_GAP_S  # noqa: F401

# Reference production loop: incremental materialization. Two adjacent
# day-slice increments (reference README "Materialize"; Feast core drives
# pull_latest per slice, data_engine_offline_store.py:421-476) are
# snapshotted with store.materialize (overwrite, then append) and merged
# by a keep-newest window; the oracle is ONE full-range pull_latest
# recompute — proving the incremental refresh is exact and idempotent.
# --------------------------------------------------------------------------

MAT_LO, MAT_MID, MAT_HI = (
    "2024-01-01 00:00:00", "2024-01-15 00:00:00", "2024-01-31 00:00:00",
)


def q_materialize_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from ..sources.data_source import SparkDataSource
    from ..sources.reader import read_parquet
    from ..store import SparkOfflineStore

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    dest = os.path.join(tempfile.gettempdir(), f"fis_materialize_{tag}")
    shutil.rmtree(dest, ignore_errors=True)  # fresh increments every run

    src = SparkDataSource(
        path=os.path.join(sf_dir, "events.parquet"), timestamp_field="ts"
    )
    common = dict(
        join_key_columns=["user_id"],
        feature_name_columns=["value", "event_type"],
        timestamp_field="ts",
        created_timestamp_column="event_id",
        dest_path=dest,
    )
    SparkOfflineStore.materialize(
        spark, src, start_date=MAT_LO, end_date="2024-01-14 23:59:59.999999",
        mode="overwrite", **common,
    )
    SparkOfflineStore.materialize(
        spark, src, start_date=MAT_MID, end_date=MAT_HI, mode="append", **common,
    )
    # merge the increments: newest snapshot row per key wins (same
    # keep-newest discipline an online store applies on upsert)
    from ..operators.dedup import dedup_keep_latest

    return dedup_keep_latest(
        read_parquet(spark, dest), ["user_id"], "ts", created_col="event_id"
    )


ORACLE_MATERIALIZE_INCR = f"""
SELECT user_id, value, event_type, ts, event_id FROM (
  SELECT user_id, value, event_type, ts, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
  WHERE ts BETWEEN TIMESTAMP '{MAT_LO}' AND TIMESTAMP '{MAT_HI}'
) WHERE rn = 1
"""

def q_sessionize_native_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via Spark's BUILT-IN ``session_window``
    aggregation — the third formulation gated against ORACLE_SESSIONIZE
    (after the batch lag+running-sum and the drained streaming state
    kernel). ``session_window`` merges events whose gaps are < gap
    into one group, so min/max/count inside each group reproduce the
    same sessions; ``session_id`` is re-derived per key by start order.
    Pins that the native operator's merge semantics equal ours —
    and gives the streaming-native path (watermark + session_window)
    a batch-verified twin."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    grouped = (
        ev.groupBy(
            "user_id", F.session_window("ts", f"{SESSION_GAP_S} seconds")
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("session_window")
    )
    w = Window.partitionBy("user_id").orderBy("session_start")
    return grouped.withColumn(
        "session_id", F.row_number().over(w).cast("bigint")
    ).select("user_id", "session_id", "session_start", "session_end", "n_events")


PIVOT_TYPES = ["click", "purchase", "refund", "signup", "view"]


def q_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-user event counts spread into one column per event
    type (`groupBy().pivot()` with an EXPLICIT value list — the implicit
    list would add a driver-side distinct collect; reference has no
    pivot surface). Oracle is the conditional-aggregation expansion."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, PIVOT_TYPES)
        .select(
            "user_id",
            *[F.col(t).cast("bigint").alias(f"n_{t}") for t in PIVOT_TYPES],
        )
    )


ORACLE_PIVOT = f"""
SELECT user_id,
       {", ".join(f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}" for t in PIVOT_TYPES)}
FROM events GROUP BY user_id
"""


def q_unpivot_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): part's numeric attributes to long (attr, value)
    rows — the inverse of pivot, used to feed generic per-attribute
    profiling/quality pipelines. Oracle is the UNION ALL expansion."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "attr", "value")


ORACLE_UNPIVOT = """
SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice', CAST(p_retailprice AS DOUBLE) FROM part
"""


def q_window_rolling_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24-hour event count per user: a RANGE window frame over
    event TIME (micros since epoch), not row position — each event sees
    how many of its key's events fell in the preceding day, inclusive.
    One shuffle on the key; the frame bound is evaluated per row inside
    the sorted partition (no self-join, no grid)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    day_us = 86400 * 1_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-day_us, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_last_24h"),
    )


ORACLE_ROLLING_24H = """
SELECT event_id, user_id, ts,
       CAST(count(*) OVER (
         PARTITION BY user_id ORDER BY ts
         RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_last_24h
FROM events
"""


def q_array_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions over the embedding column: per-label
    min/max L2 norm + count. The norm is a strict left-to-right
    ``aggregate`` fold over the array (same element order both engines,
    so the double result is bit-exact); min/max are order-insensitive,
    so the group aggregate is exact without decimal tricks."""
    emb = _t(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return (
        emb.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


ORACLE_ARRAY_NORM = """
WITH norms AS (
  SELECT label,
         sqrt(list_aggregate(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS norm
  FROM embeddings
)
SELECT label, min(norm) AS min_norm, max(norm) AS max_norm,
       count(*) AS n_vectors
FROM norms GROUP BY label
"""


RESAMPLE_START, RESAMPLE_END = "2024-01-10 00:00:00", "2024-01-17 00:00:00"
RESAMPLE_STEP_S = 21600  # 6h grid


def q_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular 6-hour feature snapshots per user over one week: the
    dense-grid twin of the PIT join (operators/resample.py — melt +
    carry-forward window, one shuffle, no range join). Oracle uses
    DuckDB's native ASOF JOIN against a generated series — two utterly
    different formulations, same rows."""
    from ..operators.resample import resample_locf

    ev = _t(spark, sf_dir, "events")
    return resample_locf(
        ev, ["user_id"], "ts", ["value"],
        RESAMPLE_START, RESAMPLE_END, RESAMPLE_STEP_S,
        tiebreak_cols=["event_id"],
    )


ORACLE_RESAMPLE = f"""
WITH dedup AS (
  SELECT user_id, ts, value
  FROM (
    SELECT user_id, ts, value,
           row_number() OVER (PARTITION BY user_id, ts
                              ORDER BY event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
),
grid AS (
  SELECT k.user_id, g.gs AS grid_ts
  FROM (SELECT DISTINCT user_id FROM events) k
  CROSS JOIN (
    SELECT unnest(generate_series(TIMESTAMP '{RESAMPLE_START}',
                                  TIMESTAMP '{RESAMPLE_END}',
                                  INTERVAL {RESAMPLE_STEP_S} SECOND)) AS gs
  ) g
)
SELECT grid.user_id, grid.grid_ts, dedup.value AS value
FROM grid
ASOF LEFT JOIN dedup
  ON grid.user_id = dedup.user_id AND dedup.ts <= grid.grid_ts
"""


def q_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation twin of resample_locf on the same 6-hour
    grid: each instant gets the value interpolated between the user's
    surrounding observations, in exact integer cents x microseconds with
    sign-safe truncating division (operators/resample.py) — so the
    interpolated values hash bit-exactly against the oracle's two
    opposite-direction DuckDB ASOF joins. NULL outside [first obs, last
    obs]; an observation exactly at an instant returns itself."""
    from ..operators.resample import resample_interpolate

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", _cents("value").alias("__c")
    )
    out = resample_interpolate(
        ev, ["user_id"], "ts", "__c",
        RESAMPLE_START, RESAMPLE_END, RESAMPLE_STEP_S,
        tiebreak_cols=["event_id"],
    )
    return out.select(
        "user_id", "grid_ts",
        (F.col("__c").cast("double") / 100.0).alias("value"),
    )


ORACLE_RESAMPLE_INTERP = f"""
WITH dedup AS (
  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS c
  FROM (
    SELECT user_id, ts, value,
           row_number() OVER (PARTITION BY user_id, ts
                              ORDER BY event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
),
grid AS (
  SELECT k.user_id, g.gs AS grid_ts
  FROM (SELECT DISTINCT user_id FROM events) k
  CROSS JOIN (
    SELECT unnest(generate_series(TIMESTAMP '{RESAMPLE_START}',
                                  TIMESTAMP '{RESAMPLE_END}',
                                  INTERVAL {RESAMPLE_STEP_S} SECOND)) AS gs
  ) g
),
surrounded AS (
  SELECT grid.user_id, grid.grid_ts,
         p.c AS pv, epoch_us(p.ts) AS pt,
         n.c AS nv, epoch_us(n.ts) AS nt,
         epoch_us(grid.grid_ts) AS gt
  FROM grid
  ASOF LEFT JOIN dedup p
    ON grid.user_id = p.user_id AND p.ts <= grid.grid_ts
  ASOF LEFT JOIN dedup n
    ON grid.user_id = n.user_id AND n.ts >= grid.grid_ts
)
SELECT user_id, grid_ts,
       CAST(CASE
         WHEN pv IS NULL OR nv IS NULL THEN NULL
         WHEN nt = pt THEN pv
         WHEN nv >= pv THEN pv + ((nv - pv) * (gt - pt)) // (nt - pt)
         ELSE pv - ((pv - nv) * (gt - pt)) // (nt - pt)
       END AS DOUBLE) / 100.0 AS value
FROM surrounded
"""


def q_materialize_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-partitioned materialize with IDEMPOTENT re-runs: two adjacent
    day-slice increments, then the second increment re-run verbatim (a
    backfill/retry). Dynamic partition overwrite makes the re-run replace
    its own day directories instead of appending, so the merged snapshot
    still equals one full-range recompute — the same oracle as
    ``materialize_incremental`` proves it, with the retry duplicating
    nothing. The snapshot layout also gives readers day-directory pruning
    (store.materialize_partitioned)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from ..sources.data_source import SparkDataSource
    from ..sources.reader import read_parquet
    from ..store import SparkOfflineStore

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    dest = os.path.join(tempfile.gettempdir(), f"fis_mat_part_{tag}")
    shutil.rmtree(dest, ignore_errors=True)  # fresh layout every run

    src = SparkDataSource(
        path=os.path.join(sf_dir, "events.parquet"), timestamp_field="ts"
    )
    common = dict(
        join_key_columns=["user_id"],
        feature_name_columns=["value", "event_type"],
        timestamp_field="ts",
        created_timestamp_column="event_id",
        dest_path=dest,
    )
    SparkOfflineStore.materialize_partitioned(
        spark, src, start_date=MAT_LO, end_date="2024-01-14 23:59:59.999999",
        **common,
    )
    SparkOfflineStore.materialize_partitioned(
        spark, src, start_date=MAT_MID, end_date=MAT_HI, **common,
    )
    # retry of the second increment: replaces its day dirs, adds nothing
    SparkOfflineStore.materialize_partitioned(
        spark, src, start_date=MAT_MID, end_date=MAT_HI, **common,
    )
    from ..operators.dedup import dedup_keep_latest

    snap = read_parquet(spark, dest).drop("snapshot_day")
    return dedup_keep_latest(snap, ["user_id"], "ts", created_col="event_id") \
        .select("user_id", "value", "event_type", "ts", "event_id")


MERGE_CUTOFF = "2024-01-20 00:00:00"


def q_merge_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge (the MERGE-INTO the reference's append-only materialize
    loop lacks, reference :421-476): a latest-per-user snapshot built
    from events before the cutoff, then a change batch from events after
    it — ``error`` events become deletes (the key vanishes), everything
    else upserts. One union + one keyed window, no join
    (operators/merge.py)."""
    from pyspark.sql import Window

    from ..operators.merge import merge_changes

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "value", "event_id", "event_type"
    )
    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    snapshot = (
        ev.where(F.col("ts") < cutoff)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "ts", "value", "event_id")
    )
    changes = ev.where(F.col("ts") >= cutoff).select(
        "user_id",
        "ts",
        "value",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    return merge_changes(
        snapshot, changes, ["user_id"], "ts", tiebreak_cols=["event_id"]
    )


ORACLE_MERGE_CDC = f"""
WITH snap AS (
  SELECT user_id, ts, value, event_id FROM (
    SELECT user_id, ts, value, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE ts < TIMESTAMP '{MERGE_CUTOFF}'
  ) WHERE rn = 1
),
unioned AS (
  SELECT user_id, ts, value, event_id, 'upsert' AS op, 0 AS src FROM snap
  UNION ALL
  SELECT user_id, ts, value, event_id,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
         1 AS src
  FROM events WHERE ts >= TIMESTAMP '{MERGE_CUTOFF}'
)
SELECT user_id, ts, value, event_id FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, src DESC, event_id DESC) AS rn
  FROM unioned
) WHERE rn = 1 AND op <> 'delete'
"""


# --------------------------------------------------------------------------


def q_streaming_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC merge (streaming/cdc.py): the batch twin's change
    set arrives as a live 4-file parquet stream (maxFilesPerTrigger=1 —
    four genuine micro-batches), and every batch MERGEs into a versioned
    keyed snapshot via foreachBatch; the drained final version must
    hash-match the batch MERGE oracle. The state carries tombstones, so
    each step is a pure per-key (ts, event_id) max — associative, hence
    arrival-order independent: ANY partitioning of the changes into
    batches converges to the oracle. Eighth streaming class at the gate
    (sessionize, window agg, interval join, dedup, latest, PIT,
    first-seen, now table maintenance)."""
    import tempfile

    from pyspark.sql import Window

    from ..streaming.cdc import streaming_cdc_merge
    from ..streaming.run import drain_writer

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "value", "event_id", "event_type"
    )
    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    snapshot = (
        ev.where(F.col("ts") < cutoff)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "ts", "value", "event_id",
                F.lit("upsert").alias("op"))
    )
    changes = ev.where(F.col("ts") >= cutoff).select(
        "user_id",
        "ts",
        "value",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    with tempfile.TemporaryDirectory(prefix="fis_cdc_src_") as src_dir:
        changes.repartition(4).write.mode("overwrite").parquet(src_dir)
        stream = (
            spark.readStream.schema(changes.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        writer, state_path = streaming_cdc_merge(
            stream,
            snapshot,
            tempfile.mkdtemp(prefix="fis_cdc_state_"),
            key_cols=["user_id"],
            ts_col="ts",
            tiebreak_cols=["event_id"],
        )
        drain_writer(writer, "streaming_cdc_merge")
    return (
        spark.read.parquet(state_path())
        .where(F.col("op") != "delete")
        .select("user_id", "ts", "value", "event_id")
    )


def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level survivorship (golden record): per user, each derived
    attribute independently keeps its latest NON-NULL observation —
    sparse attribute feeds (view-value, purchase-value, last error time)
    are synthesized from the events table with NULLs where the event
    type doesn't carry the attribute, so the merge genuinely skips nulls
    per column instead of degenerating to latest-row-wins
    (operators/merge.survivorship_merge). One keyed shuffle resolves
    every column."""
    from ..operators.merge import survivorship_merge

    ev = _t(spark, sf_dir, "events")
    sparse = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "view", F.col("value")).alias("view_value"),
        F.when(F.col("event_type") == "purchase", F.col("value")).alias(
            "purchase_value"
        ),
        F.when(F.col("event_type") == "error", F.col("ts")).alias("last_error_ts"),
    )
    return survivorship_merge(
        sparse,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        attr_cols=["view_value", "purchase_value", "last_error_ts"],
    )


ORACLE_GOLDEN_RECORD = """
WITH sparse AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'view' THEN value END AS view_value,
         CASE WHEN event_type = 'purchase' THEN value END AS purchase_value,
         CASE WHEN event_type = 'error' THEN ts END AS last_error_ts
  FROM events
),
surv AS (
  SELECT user_id,
         last_value(view_value IGNORE NULLS) OVER w AS view_value,
         last_value(purchase_value IGNORE NULLS) OVER w AS purchase_value,
         last_value(last_error_ts IGNORE NULLS) OVER w AS last_error_ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_sources
  FROM sparse
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT user_id, view_value, purchase_value, last_error_ts,
       CAST(n_sources AS BIGINT) AS n_sources
FROM surv WHERE rn = 1
"""


def q_sessionize_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-gap sessionization: the session timeout depends on the
    EVENT — purchases hold a session open 4h, everything else 2h (the
    engagement-model shape: heavyweight actions imply longer intent).
    Spark's native ``session_window`` accepts a per-row interval COLUMN,
    so the merging state machine handles variable gaps natively.

    The oracle needs no state machine: an event starts a new session iff
    its time exceeds the RUNNING MAX of (ts + gap) over ALL preceding
    events of the key — a break dominates every earlier window end, so
    the global running max equals the within-session one (the classic
    interval-union argument, proven in the docstring of the ORACLE)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    # session_window demands CalendarIntervalType — ANSI INTERVAL
    # literals are DayTimeIntervalType, so build via make_interval
    gap = F.expr(
        "CASE WHEN event_type = 'purchase' THEN make_interval(0,0,0,0,4,0,0) "
        "ELSE make_interval(0,0,0,0,2,0,0) END"
    )
    grouped = (
        ev.groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("session_window")
    )
    w = Window.partitionBy("user_id").orderBy("session_start")
    return grouped.withColumn(
        "session_id", F.row_number().over(w).cast("bigint")
    ).select("user_id", "session_id", "session_start", "session_end", "n_events")


# Correctness of the running-max break rule: if a break happened at event
# k (ts_k exceeds every earlier ts_j + gap_j), then for any later i,
# ts_i >= ts_k also exceeds those, so the global running max over ALL
# preceding events equals the max over the CURRENT session's events —
# no per-session reset needed, hence plain window SQL suffices.
ORACLE_SESSIONIZE_DYNGAP = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN max(epoch_us(ts)
                       + CASE WHEN event_type = 'purchase'
                              THEN 14400000000 ELSE 7200000000 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
               OR epoch_us(ts) > max(epoch_us(ts)
                       + CASE WHEN event_type = 'purchase'
                              THEN 14400000000 ELSE 7200000000 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM sess GROUP BY user_id, session_id
"""


def q_streaming_snapshot_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """18th drained streaming class: EXACTLY-ONCE VERSIONED SNAPSHOT
    SINK — the stream lands in the manifest-snapshot table format
    (sources/snapshots.py) with one committed version per micro-batch,
    idempotent on batchId (write_snapshot_batch: a replayed batch finds
    its id in the manifest chain and returns the existing version
    instead of double-committing — the contract foreachBatch retries
    require; pinned in test_sources). Four genuine micro-batches
    (4-file source, maxFilesPerTrigger=1) append four versions; the
    drained check reads the LATEST version back and aggregates — which
    must equal the whole input regardless of how the stream was split
    into batches (append is order-independent), with n_versions pinning
    that every batch became exactly one commit. Time travel into any
    intermediate batch boundary comes free with the format."""
    import tempfile

    from ..sources.snapshots import (
        read_snapshot,
        snapshot_versions,
        write_snapshot_batch,
    )
    from ..streaming.run import drain_writer

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", _cents("value").alias("cents"), "ts"
    )
    dest = tempfile.mkdtemp(prefix="fis_snapsink_tbl_")
    with tempfile.TemporaryDirectory(prefix="fis_snapsink_src_") as src_dir:
        ev.repartition(4).write.mode("overwrite").parquet(src_dir)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        drain_writer(
            stream.writeStream.foreachBatch(
                lambda batch, bid: write_snapshot_batch(batch, dest, bid)
            ),
            "streaming_snapshot_sink",
        )
    n_versions = len(snapshot_versions(dest))
    return (
        read_snapshot(spark, dest)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(F.lit(n_versions).alias("n_versions"), "event_type",
                "n_events", "sum_cents")
    )


def q_streaming_snapshot_sink_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full streaming-table story in one hash (round 12): a
    time-ordered stream (4 ts-range source files, one per micro-batch)
    lands in the snapshot format with ``stats_cols=["ts"]`` — every
    micro-batch commit records its narrow [min, max] ts window — then
    (phase 1) the whole table reads back, (phase 2) a mid-January
    window reads STAT-PRUNED (read_snapshot_between skips the early and
    late segments from the manifest alone — this is why streaming
    tables want per-segment stats: each batch covers a narrow window,
    so windowed reads of a 10^5-segment table plan a handful of
    directories), and (phase 3) COUNT(*) answers from METADATA
    (snapshot_row_count, no data scan), with n_versions riding the same
    row. Exact predicates re-apply on top of pruning, so the hash pins
    content, and the plan subset is pinned in tests/test_plans.py for
    the batch twin (same operator)."""
    import datetime
    import hashlib
    import os
    import shutil
    import tempfile

    from ..sources.snapshots import (
        read_snapshot,
        read_snapshot_between,
        snapshot_row_count,
        snapshot_versions,
        write_snapshot_batch,
    )
    from ..streaming.run import drain_writer
    from .pipelines import _chain_needs_build

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", _cents("value").alias("cents"), "ts"
    )
    # build-once per sf tag (the same reuse discipline as the other
    # snapshot chains — round-12 review: fresh mkdtemps per run leaked
    # a full events copy into /tmp on EVERY gate/smoke/bench invocation
    # and paid the double-write each time; the ts-quartile layout is
    # deterministic per sf_dir, so the drained chain is reusable)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"fis_snapzm_{tag}")
    src_dir, dest = base + "_src", base + "_tbl"
    if _chain_needs_build(dest, 4):
        shutil.rmtree(src_dir, ignore_errors=True)
        # one parquet file per ts QUARTILE: each micro-batch is a
        # narrow time window, the layout that makes per-segment stats
        # selective
        ev.repartitionByRange(4, "ts").write.mode("overwrite").parquet(
            src_dir)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        drain_writer(
            stream.writeStream.foreachBatch(
                lambda batch, bid: write_snapshot_batch(
                    batch, dest, bid, stats_cols=["ts"])
            ),
            "streaming_snapshot_sink_stats",
        )
    n_versions = len(snapshot_versions(dest))

    def prof(df: DataFrame, phase: int) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        ).select(
            F.lit(phase).cast("bigint").alias("phase"),
            "event_type", "n_events", "sum_cents",
        )

    lo = datetime.datetime.fromisoformat(SNAPZM_WINDOW_LO)
    hi = datetime.datetime.fromisoformat(SNAPZM_WINDOW_HI)
    meta = spark.createDataFrame(
        [(3, "_metadata_count", snapshot_row_count(dest),
          n_versions)],
        "phase bigint, event_type string, n_events bigint, sum_cents bigint",
    )
    return (
        prof(read_snapshot(spark, dest), 1)
        .unionByName(prof(read_snapshot_between(spark, dest, "ts", lo, hi), 2))
        .unionByName(meta)
    )


SNAPZM_WINDOW_LO = "2024-01-12 00:00:00"
SNAPZM_WINDOW_HI = "2024-01-18 00:00:00"

ORACLE_STREAM_SNAPSHOT_SINK_STATS = f"""
WITH ev AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents, ts
  FROM events
)
SELECT CAST(1 AS BIGINT) AS phase, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM ev GROUP BY 1, 2
UNION ALL
SELECT CAST(2 AS BIGINT), event_type,
       CAST(count(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
FROM ev
WHERE ts >= TIMESTAMP '{{SNAPZM_WINDOW_LO}}'
  AND ts <= TIMESTAMP '{{SNAPZM_WINDOW_HI}}'
GROUP BY 1, 2
UNION ALL
SELECT CAST(3 AS BIGINT), '_metadata_count',
       CAST(count(*) AS BIGINT), CAST(4 AS BIGINT)
FROM ev
"""

ORACLE_STREAM_SNAPSHOT_SINK_STATS = ORACLE_STREAM_SNAPSHOT_SINK_STATS.replace(
    "{SNAPZM_WINDOW_LO}", SNAPZM_WINDOW_LO
).replace("{SNAPZM_WINDOW_HI}", SNAPZM_WINDOW_HI)


ORACLE_STREAM_SNAPSHOT_SINK = """
SELECT CAST(4 AS INT) AS n_versions, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY event_type
"""


JOIN_IVM_MOD_A, JOIN_IVM_MOD_B = 7, 3


def q_join_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance (operators/incremental.
    join_delta — completing the IVM story beside the additive-aggregate
    and moments refreshes): orders and lineitem are each split into a
    base and an insert delta, the stored view is base |><| base, and the
    refresh applies the three-term delta expansion dA|><|B u A|><|dB u
    dA|><|dB. The aggregate over (old view UNION ALL delta) must equal
    the same aggregate over the FULL join recomputed from scratch — the
    oracle does exactly that recompute, so any missing, duplicated, or
    overlapping delta term breaks the counts. Every per-refresh join
    touches delta-sized data on at least one side (broadcast), never
    history x history."""
    from ..operators.incremental import join_delta

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    a = orders.select("o_orderkey", "o_orderpriority")
    b = li.select("l_orderkey", _cents("l_extendedprice").alias("cents"))
    b = b.withColumnRenamed("l_orderkey", "o_orderkey")

    base_a = a.filter(F.col("o_orderkey") % JOIN_IVM_MOD_A != 0)
    delta_a = a.filter(F.col("o_orderkey") % JOIN_IVM_MOD_A == 0)
    base_b = b.filter(F.col("cents") % JOIN_IVM_MOD_B != 0)
    delta_b = b.filter(F.col("cents") % JOIN_IVM_MOD_B == 0)

    old_view = base_a.join(base_b, ["o_orderkey"])
    refreshed = old_view.unionByName(
        join_delta(base_a, delta_a, base_b, delta_b, ["o_orderkey"])
    )
    return refreshed.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("cents").alias("sum_cents"),
    )


ORACLE_JOIN_INCREMENTAL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""
