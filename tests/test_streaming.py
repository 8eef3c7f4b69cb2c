"""Structured Streaming extension tests (availableNow trigger + memory
sink over a temp parquet directory)."""

import os
import shutil
from datetime import datetime as TS

import pytest
from pyspark.sql import functions as F

from feast_ibm_spark.streaming import (
    stream_parquet_source,
    streaming_latest_per_key,
    streaming_window_counts,
)


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream"))
    df = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 10, 0), 1.0),
            (1, TS(2024, 1, 1, 11, 0), 2.0),
            (2, TS(2024, 1, 1, 10, 30), 5.0),
            (2, TS(2024, 1, 1, 9, 0), 4.0),
            (3, TS(2024, 1, 1, 12, 15), 9.0),
        ],
        "user_id bigint, ts timestamp, value double",
    )
    df.write.mode("overwrite").parquet(d)
    return d, df.schema


def _run_stream(sdf, query_name, mode):
    # drain_available_now stops the run once the state store is empty —
    # with ProcessingTimeTimeout armed, availableNow alone never
    # self-terminates (it schedules empty batches forever), so a plain
    # awaitTermination would burn its full timeout on the idle-flush tests
    from feast_ibm_spark.streaming import drain_available_now

    drain_available_now(sdf, query_name, output_mode=mode, timeout_s=120)


def test_state_partition_heuristic_resolution(spark, event_dir, monkeypatch):
    """State-partition derivation from the query plan: JVM-stateful plans
    over a file-stream source get source bytes/16MiB clamped to [4, 8x
    slots]; Python-stateful plans keep one partition per task slot. The
    count depends on the plan alone, so resolving twice gives the same
    count."""
    from feast_ibm_spark.streaming import run as srun
    from feast_ibm_spark.streaming import stream_parquet_source
    from feast_ibm_spark.streaming.stateful import streaming_sessionize

    d, schema = event_dir
    slots = spark.sparkContext.defaultParallelism

    # tiny source -> clamped floor of 4, the same on every resolution
    agg = stream_parquet_source(spark, d, schema).groupBy("user_id").count()
    assert srun._stream_state_partitions(spark, agg) == 4
    assert srun._stream_state_partitions(spark, agg) == 4

    # bytes scale the count: at 1 byte per partition the source reaches
    # the 8x-slots ceiling
    monkeypatch.setattr(srun, "STATE_TARGET_BYTES_PER_PARTITION", 1)
    assert srun._stream_state_partitions(spark, agg) == (
        srun.STATE_MAX_SLOT_MULTIPLE * slots
    )

    # python-stateful plans ignore the source bytes and keep the slots
    sdf2 = stream_parquet_source(spark, d, schema).withColumn(
        "event_id", F.monotonically_increasing_id()
    )
    sess = streaming_sessionize(sdf2, ["user_id"], "ts")
    assert srun._stream_state_partitions(spark, sess) == slots


def test_state_partitions_ignore_other_streams(
    spark, event_dir, tmp_path, monkeypatch
):
    """A stream's state-partition count comes from its own sources only.
    A parquet stream built and never drained does not move a later
    rate-source aggregate off the slots default, and two parquet streams
    built before either drains each resolve from their own bytes."""
    from feast_ibm_spark.streaming import run as srun

    d, schema = event_dir
    slots = spark.sparkContext.defaultParallelism
    monkeypatch.setattr(srun, "STATE_TARGET_BYTES_PER_PARTITION", 1)

    stream_parquet_source(spark, d, schema)  # built, never drained
    rate = spark.readStream.format("rate").load().groupBy().count()
    assert srun._stream_state_partitions(spark, rate) == slots

    # the big source holds three copies of the small one's file
    df = spark.read.parquet(d).coalesce(1)
    small, big = str(tmp_path / "small"), str(tmp_path / "big")
    df.write.parquet(small)
    for _ in range(3):
        df.write.mode("append").parquet(big)

    def data_bytes(path):
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path) if not f.startswith(".")
        )

    n_small, n_big = data_bytes(small), data_bytes(big)
    target = -(-n_small // 4)
    monkeypatch.setattr(srun, "STATE_TARGET_BYTES_PER_PARTITION", target)

    def expected(n):
        per = -(-n // target)
        return max(4, min(per, srun.STATE_MAX_SLOT_MULTIPLE * slots))

    s_small, s_big = (
        stream_parquet_source(spark, p, schema).groupBy("user_id").count()
        for p in (small, big)
    )
    # a shared session total (or none) would give a different count
    assert expected(n_small) != expected(n_small + n_big)
    assert expected(n_big) != slots
    assert srun._stream_state_partitions(spark, s_small) == expected(n_small)
    assert srun._stream_state_partitions(spark, s_big) == expected(n_big)


def test_stream_source_bytes_from_plan(spark, sf_dir, tmp_path):
    """Source bytes are read from the plan's file-stream leaves. A
    single-file table, streamed as its directory plus a glob, counts that
    file and not its larger sibling; a self-join counts its one source
    once; a rate source has no file bytes; and resolving the partition
    count runs no Spark job."""
    from feast_ibm_spark.sources.reader import load_stream
    from feast_ibm_spark.streaming import run as srun

    shutil.copy(os.path.join(sf_dir, "events.parquet"), tmp_path)
    n_events = os.path.getsize(tmp_path / "events.parquet")
    (tmp_path / "sibling.bin").write_bytes(b"\0" * (2 * n_events))

    def source_bytes(sdf):
        return srun._stream_source_bytes(
            spark, sdf._jdf.queryExecution().analyzed()
        )

    events = load_stream(spark, str(tmp_path), "events")
    assert source_bytes(events) == n_events
    self_join = events.alias("a").join(events.alias("b"), "user_id")
    assert source_bytes(self_join) == n_events
    assert source_bytes(spark.readStream.format("rate").load()) is None

    sc = spark.sparkContext
    group = "test_stream_source_bytes_from_plan"
    sc.setJobGroup(group, "state-partition resolution")
    try:
        agg = self_join.groupBy("user_id").count()
        assert srun._stream_state_partitions(spark, agg) == 4
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_streaming_latest_per_key(spark, event_dir):
    d, schema = event_dir
    src = stream_parquet_source(spark, d, schema)
    assert src.isStreaming
    latest = streaming_latest_per_key(src, ["user_id"], "ts", ["value"])
    _run_stream(latest, "t_latest", "complete")
    got = {r.user_id: r.value for r in spark.table("t_latest").collect()}
    assert got == {1: 2.0, 2: 5.0, 3: 9.0}


def test_streaming_sessionize_across_batches(spark, tmp_path):
    """Gap sessionization with REAL cross-batch state: two parquet files
    processed as separate micro-batches (maxFilesPerTrigger=1), sessions
    closed in either batch are emitted exactly once."""
    import os

    from feast_ibm_spark.streaming import streaming_sessionize

    d = str(tmp_path)
    schema = "user_id bigint, ts timestamp"
    batch1 = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 10, 0)),
            (1, TS(2024, 1, 1, 10, 10)),   # same session (gap 30m)
            (1, TS(2024, 1, 1, 12, 0)),    # closes session 1, opens session 2
            (2, TS(2024, 1, 1, 9, 0)),     # open session for user 2
        ],
        schema,
    )
    batch2 = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 12, 5)),    # extends user 1's open session
            (1, TS(2024, 1, 1, 14, 0)),    # closes it, opens another
            (2, TS(2024, 1, 1, 9, 40)),    # beyond gap: closes user 2's session
        ],
        schema,
    )
    batch1.coalesce(1).write.parquet(os.path.join(d, "b1"))
    batch2.coalesce(1).write.parquet(os.path.join(d, "b2"))

    src = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    sessions = streaming_sessionize(src, ["user_id"], "ts", gap_seconds=1800)
    _run_stream(sessions, "t_sessions", "append")
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("t_sessions").collect()
    }
    assert got == {
        (1, TS(2024, 1, 1, 10, 0), TS(2024, 1, 1, 10, 10), 2),
        (1, TS(2024, 1, 1, 12, 0), TS(2024, 1, 1, 12, 5), 2),
        (2, TS(2024, 1, 1, 9, 0), TS(2024, 1, 1, 9, 0), 1),
    }


def test_streaming_first_seen_dedup_across_batches(spark, tmp_path):
    import os

    from feast_ibm_spark.streaming import streaming_first_seen

    d = str(tmp_path)
    schema = "user_id bigint, ts timestamp, value double"
    b1 = spark.createDataFrame(
        [(1, TS(2024, 1, 1, 10, 0), 1.0), (1, TS(2024, 1, 1, 11, 0), 2.0),
         (2, TS(2024, 1, 1, 10, 30), 5.0)],
        schema,
    )
    b2 = spark.createDataFrame(
        [(1, TS(2024, 1, 2, 10, 0), 7.0),   # dup across batches: dropped
         (3, TS(2024, 1, 2, 11, 0), 9.0)],
        schema,
    )
    b1.coalesce(1).write.parquet(os.path.join(d, "b1"))
    b2.coalesce(1).write.parquet(os.path.join(d, "b2"))

    src = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = streaming_first_seen(src, ["user_id"])
    _run_stream(out, "t_first_seen", "append")
    rows = spark.table("t_first_seen").collect()
    assert sorted(r.user_id for r in rows) == [1, 2, 3]
    # the cross-batch duplicate for user 1 kept the FIRST batch's row
    assert {r.user_id: r.value for r in rows}[3] == 9.0


def test_streaming_window_counts(spark, event_dir):
    # NOTE: availableNow processes everything in one trigger, so the
    # watermark never advances past the data and append mode would emit
    # nothing — complete mode shows all windows (state intact).
    d, schema = event_dir
    src = stream_parquet_source(spark, d, schema)
    counts = streaming_window_counts(src, "ts", "1 hour", "2 hours")
    _run_stream(counts, "t_windows", "complete")
    got = {r.window_start: r.n_events for r in spark.table("t_windows").collect()}
    assert got == {
        TS(2024, 1, 1, 9, 0): 1,
        TS(2024, 1, 1, 10, 0): 2,
        TS(2024, 1, 1, 11, 0): 1,
        TS(2024, 1, 1, 12, 0): 1,
    }


def test_streaming_pit_join_per_microbatch(spark, tmp_path):
    """Streaming PIT join: each micro-batch of spine rows is as-of joined
    against the static feature table via foreachBatch, reusing the batch
    operator (TTL + latest-row semantics identical to the batch path)."""
    import os

    from feast_ibm_spark.operators.pit_join import FeatureViewSpec
    from feast_ibm_spark.streaming import streaming_pit_join

    feat = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 8, 0), 1.0),
            (1, TS(2024, 1, 1, 10, 0), 2.0),   # latest <= batch-1 spine ts
            (1, TS(2024, 1, 2, 0, 0), 3.0),    # future of batch 1, past of batch 2
            (2, TS(2023, 12, 1, 0, 0), 9.0),   # outside 1-day TTL for batch 1
        ],
        "user_id bigint, event_timestamp timestamp, score double",
    )
    view = FeatureViewSpec(
        "fv", feat, ["user_id"], ["score"], "event_timestamp",
        ttl_seconds=86400,
    )

    d = str(tmp_path)
    schema = "user_id bigint, event_timestamp timestamp"
    b1 = spark.createDataFrame(
        [(1, TS(2024, 1, 1, 12, 0)), (2, TS(2024, 1, 1, 12, 0))], schema
    )
    b2 = spark.createDataFrame([(1, TS(2024, 1, 2, 12, 0))], schema)
    b1.coalesce(1).write.parquet(os.path.join(d, "b1"))
    b2.coalesce(1).write.parquet(os.path.join(d, "b2"))

    src = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out: list[tuple] = []

    def sink(df, batch_id):
        out.extend((r.user_id, r.event_timestamp, r.score) for r in df.collect())

    q = (
        streaming_pit_join(src, [view], sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert set(out) == {
        (1, TS(2024, 1, 1, 12, 0), 2.0),   # latest as-of batch-1 ts
        (2, TS(2024, 1, 1, 12, 0), None),  # only feature is outside TTL
        (1, TS(2024, 1, 2, 12, 0), 3.0),   # batch 2 sees the newer row
    }


def test_enrich_stream_with_latest_features(spark, event_dir):
    """Stream-static join: every streaming event carries its key's latest
    feature value; unknown keys get NULLs."""
    from feast_ibm_spark.streaming import enrich_stream

    d, schema = event_dir
    src = stream_parquet_source(spark, d, schema)
    features = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 0, 0), "old", 10.0),
            (1, TS(2024, 1, 2, 0, 0), "new", 11.0),   # latest for key 1
            (2, TS(2024, 1, 1, 0, 0), "only", 20.0),
            # key 3 has no features -> NULL enrichment
        ],
        "user_id bigint, feat_ts timestamp, tag string, score double",
    )
    out = enrich_stream(
        src, features, ["user_id"], ["tag", "score"], "feat_ts"
    )
    _run_stream(out, "t_enriched", "append")
    rows = spark.table("t_enriched").collect()
    assert len(rows) == 5  # every stream event survives the left join
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, set()).add((r.tag, r.score))
    assert by_user[1] == {("new", 11.0)}
    assert by_user[2] == {("only", 20.0)}
    assert by_user[3] == {(None, None)}


def test_streaming_sessionize_idle_timeout_flushes_open_session(spark, tmp_path):
    """idle_timeout_seconds: a key that goes quiet has its OPEN session
    flushed by the processing-time timeout (and its state evicted) —
    without the timeout that session would never be emitted."""
    import os

    from feast_ibm_spark.streaming import streaming_sessionize

    d = str(tmp_path)
    schema = "user_id bigint, ts timestamp"
    b1 = spark.createDataFrame(
        [(2, TS(2024, 1, 1, 10, 0)), (2, TS(2024, 1, 1, 10, 10)),
         (1, TS(2024, 1, 1, 9, 0))],
        schema,
    )
    b2 = spark.createDataFrame([(1, TS(2024, 1, 1, 9, 5))], schema)
    b3 = spark.createDataFrame([(1, TS(2024, 1, 1, 9, 10))], schema)
    for i, b in enumerate((b1, b2, b3)):
        b.coalesce(1).write.parquet(os.path.join(d, f"b{i}"))

    src = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    sessions = streaming_sessionize(
        src, ["user_id"], "ts", gap_seconds=1800, idle_timeout_seconds=0.001
    )
    _run_stream(sessions, "t_sessions_timeout", "append")
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("t_sessions_timeout").collect()
    }
    # user 2 went quiet after batch 1 -> its open session is flushed by the
    # timeout in a later data batch; user 1 received data through the last
    # file, then the availableNow run's final empty batch fires its
    # pending timer too — so at stream end EVERY open session has flushed
    # and the state store is empty
    assert got == {
        (2, TS(2024, 1, 1, 10, 0), TS(2024, 1, 1, 10, 10), 2),
        (1, TS(2024, 1, 1, 9, 0), TS(2024, 1, 1, 9, 10), 3),
    }


def test_streaming_first_seen_state_ttl_readmits_key(spark, tmp_path):
    """state_ttl_seconds: a key's dedup flag is evicted after the TTL, so
    the key is re-emitted when it recurs later (bounded state for
    unbounded key universes); a key that keeps recurring within the TTL
    stays deduped."""
    import os

    from feast_ibm_spark.streaming import streaming_first_seen

    d = str(tmp_path)
    schema = "k string, v bigint"
    b1 = spark.createDataFrame([("a", 1), ("b", 10)], schema)
    b2 = spark.createDataFrame([("b", 11)], schema)   # a's flag times out here
    b3 = spark.createDataFrame([("a", 2), ("b", 12)], schema)
    for i, b in enumerate((b1, b2, b3)):
        b.coalesce(1).write.parquet(os.path.join(d, f"b{i}"))

    src = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/*")
    )
    out = streaming_first_seen(src, ["k"], state_ttl_seconds=0.001)
    _run_stream(out, "t_seen_ttl", "append")
    got = sorted((r.k, r.v) for r in spark.table("t_seen_ttl").collect())
    # a: emitted in b1, evicted during b2 (no a-data), re-emitted in b3;
    # b: occurs in every batch, TTL keeps refreshing -> emitted once
    assert got == [("a", 1), ("a", 2), ("b", 10)]


def test_streaming_sessionize_query_matches_batch(spark):
    """The driver-gated streaming query (drained availableNow run over the
    real events table) produces EXACTLY the batch sessionization result —
    the property that lets it share ORACLE_SESSIONIZE at the gate."""
    from pandas.testing import assert_frame_equal

    from feast_ibm_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    cols = ["user_id", "session_id", "session_start", "session_end", "n_events"]

    def canon(df):
        pdf = df.toPandas()[cols]
        return pdf.sort_values(cols).reset_index(drop=True)

    streamed = canon(QUERIES["streaming_sessionize"].fn(spark, sf))
    batch = canon(QUERIES["sessionize_events"].fn(spark, sf))
    assert len(streamed) > 0
    assert_frame_equal(streamed, batch)


def test_sessionize_rocksdb_provider(spark):
    """The RocksDB state-store provider — the 100 TB large-state path
    (off-heap, disk-backed, incrementally checkpointed) — must produce
    exactly the default provider's result for the stateful sessionize
    drain. Asserts the provider actually engaged (conf set inside the
    context, restored after) and the drained outputs match row-for-row."""
    from pandas.testing import assert_frame_equal

    from feast_ibm_spark.queries import QUERIES
    from feast_ibm_spark.streaming.run import ROCKSDB_PROVIDER, rocksdb_state_store

    sf = "/root/testdata/sf0.001"
    cols = ["user_id", "session_id", "session_start", "session_end", "n_events"]

    def canon(df):
        pdf = df.toPandas()[cols]
        return pdf.sort_values(cols).reset_index(drop=True)

    key = "spark.sql.streaming.stateStore.providerClass"
    default = canon(QUERIES["streaming_sessionize"].fn(spark, sf))
    with rocksdb_state_store(spark, bounded_memory_mb=256):
        assert spark.conf.get(key) == ROCKSDB_PROVIDER
        rocks = canon(QUERIES["streaming_sessionize"].fn(spark, sf))
    assert spark.conf.get(key, None) != ROCKSDB_PROVIDER  # restored
    assert len(rocks) > 0
    assert_frame_equal(rocks, default)


def test_streaming_cdc_merge_cross_batch_semantics(spark, tmp_path):
    """Delete-then-upsert and upsert-then-delete must both resolve to
    the LATEST op per key regardless of which micro-batch carried which
    change — tombstones stay mergeable state, not terminal removals."""
    from datetime import datetime as TS

    from feast_ibm_spark.streaming.cdc import streaming_cdc_merge

    snapshot = spark.createDataFrame(
        [(1, TS(2024, 1, 1), 10.0, 100, "upsert"),
         (2, TS(2024, 1, 1), 20.0, 101, "upsert"),
         (3, TS(2024, 1, 1), 30.0, 102, "upsert")],
        "user_id bigint, ts timestamp, value double, event_id bigint, op string",
    )
    # key 1: deleted then re-upserted LATER -> survives with new value
    # key 2: upserted then deleted LATER    -> gone
    # key 3: untouched                      -> original row
    changes = spark.createDataFrame(
        [(1, TS(2024, 1, 2), 0.0, 200, "delete"),
         (1, TS(2024, 1, 3), 11.0, 201, "upsert"),
         (2, TS(2024, 1, 2), 21.0, 202, "upsert"),
         (2, TS(2024, 1, 3), 0.0, 203, "delete")],
        "user_id bigint, ts timestamp, value double, event_id bigint, op string",
    )
    src = str(tmp_path / "src")
    # one file per change row -> 4 micro-batches, deletes and upserts
    # split across batch boundaries in both orders
    changes.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    writer, state_path = streaming_cdc_merge(
        stream, snapshot, str(tmp_path / "state"),
        key_cols=["user_id"], ts_col="ts", tiebreak_cols=["event_id"],
    )
    q = (writer.option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    final = {r.user_id: (r.value, r.event_id)
             for r in spark.read.parquet(state_path())
             .where("op != 'delete'").collect()}
    assert final == {1: (11.0, 201), 3: (30.0, 102)}


def test_streaming_cdc_merge_survives_restart(spark, tmp_path):
    """The round-6 review defect, pinned: a SECOND run over the same
    state dir + checkpoint (the durable continuous-maintenance shape)
    must resume from the highest committed version — not reset to the
    initial snapshot while the checkpoint skips the committed batches."""
    from datetime import datetime as TS

    from feast_ibm_spark.streaming.cdc import streaming_cdc_merge

    schema = "user_id bigint, ts timestamp, value double, event_id bigint, op string"
    snapshot = spark.createDataFrame(
        [(1, TS(2024, 1, 1), 10.0, 100, "upsert")], schema
    )
    src = tmp_path / "src"
    src.mkdir()
    state_dir, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        writer, state_path = streaming_cdc_merge(
            stream, snapshot, state_dir,
            key_cols=["user_id"], ts_col="ts", tiebreak_cols=["event_id"],
        )
        q = (writer.option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        return state_path

    # run 1: one change batch upserts key 2
    spark.createDataFrame(
        [(2, TS(2024, 1, 2), 20.0, 200, "upsert")], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    state_path = run_once()
    got1 = {r.user_id for r in spark.read.parquet(state_path()).collect()}
    assert got1 == {1, 2}

    # "restart": new files arrive, a FRESH writer reuses state + ckpt
    spark.createDataFrame(
        [(3, TS(2024, 1, 3), 30.0, 300, "upsert")], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    state_path = run_once()
    final = {r.user_id: r.value
             for r in spark.read.parquet(state_path())
             .where("op != 'delete'").collect()}
    # key 2 from the PRE-restart batch must still be present
    assert final == {1: 10.0, 2: 20.0, 3: 30.0}


def test_route_stream_multi_sink_and_rerun_stability(spark, tmp_path_factory):
    """One pass, two sinks: rows land in every route whose predicate
    they satisfy (overlap allowed), multi-batch input produces one
    batch=<id> dir per micro-batch, and re-running against the SAME
    checkpoint replays nothing — sink contents are stable (the
    idempotent-foreachBatch contract)."""
    import os

    from feast_ibm_spark.streaming.router import route_stream

    src = str(tmp_path_factory.mktemp("route_src"))
    rows = [(i, "purchase" if i % 2 == 0 else "click", i * 10)
            for i in range(8)]
    df = spark.createDataFrame(rows, "id bigint, et string, c bigint")
    # two files -> two micro-batches at maxFilesPerTrigger=1
    df.filter("id < 4").write.mode("overwrite").parquet(src + "/a")
    df.filter("id >= 4").write.mode("overwrite").parquet(src + "/b")

    def start():
        return (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )

    base = str(tmp_path_factory.mktemp("route_out"))
    ckpt = str(tmp_path_factory.mktemp("route_ckpt"))
    routes = {
        "purchases": F.col("et") == "purchase",
        "big": F.col("c") >= 30,  # overlaps purchases for id in {4, 6}
    }
    dirs = route_stream(start(), routes, base, ckpt, timeout_s=120)
    got_p = {r.id for r in spark.read.parquet(dirs["purchases"]).collect()}
    got_b = {r.id for r in spark.read.parquet(dirs["big"]).collect()}
    assert got_p == {0, 2, 4, 6}
    assert got_b == {3, 4, 5, 6, 7}
    batch_dirs = [f for f in os.listdir(dirs["purchases"])
                  if f.startswith("batch=")]
    # one dir per micro-batch (maxFilesPerTrigger=1 => one per part
    # file; the writer's part count decides how many, >= the 2 writes)
    assert len(batch_dirs) >= 2

    # rerun on the same checkpoint: nothing replays, contents stable
    route_stream(start(), routes, base, ckpt, timeout_s=120)
    assert {r.id for r in spark.read.parquet(dirs["purchases"]).collect()} == got_p
    assert {r.id for r in spark.read.parquet(dirs["big"]).collect()} == got_b


def test_state_reader_decodes_and_time_travels(spark, tmp_path_factory):
    """The statestore reader decodes a session-window aggregation's
    checkpoint faithfully (counts match the sink) and batchId time
    travel reads an EARLIER batch's smaller state."""
    import os

    from feast_ibm_spark.streaming import drain_available_now
    from feast_ibm_spark.streaming.state_reader import (
        read_session_window_state,
        read_state,
    )

    d = str(tmp_path_factory.mktemp("ssr_src"))
    rows1 = [(1, TS(2024, 1, 1, 10, 0)), (1, TS(2024, 1, 1, 10, 5)),
             (2, TS(2024, 1, 1, 11, 0))]
    rows2 = [(1, TS(2024, 1, 1, 14, 0)), (3, TS(2024, 1, 1, 9, 0))]
    schema = "user_id bigint, ts timestamp"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        os.path.join(d, "b1"))
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        os.path.join(d, "b2"))
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1)
           .parquet(os.path.join(d, "*")))
    agg = (src.withWatermark("ts", "1 hour")
           .groupBy("user_id", F.session_window("ts", "1800 seconds"))
           .agg(F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
                F.count(F.lit(1)).alias("n_events")))
    ckpt = str(tmp_path_factory.mktemp("ssr_ckpt"))
    drain_available_now(agg, "t_state_reader", output_mode="complete",
                        checkpoint_dir=ckpt, timeout_s=120)

    final = read_session_window_state(spark, ckpt)
    got = {(r.user_id, r.n_events) for r in final.collect()}
    # 4 sessions total: user1 x2 (10:00-10:05 pair, 14:00), user2, user3
    assert got == {(1, 2), (1, 1), (2, 1), (3, 1)}
    # sink and state agree on the session count
    assert final.count() == spark.table("t_state_reader").count()

    # time travel: batch 0 processed one file -> strictly less state
    early = read_state(spark, ckpt, batch_id=0)
    assert 0 < early.count() < final.count()
    # raw rows expose the partition they live in (skew debugging surface)
    assert read_state(spark, ckpt).select("partition_id").distinct().count() >= 1


def test_state_api_v2_user_profile(spark, tmp_path_factory):
    """State API v2 (transformWithStateInPandas): drained per-user
    profile (ValueState counters + MapState type set) equals the batch
    aggregate. ENV-GATED: the v2 driver worker needs google.protobuf,
    which this container does not ship (see stateful_v2.py docstring) —
    skips until the image carries it."""
    pytest.importorskip("google.protobuf")

    from feast_ibm_spark.streaming import drain_available_now
    from feast_ibm_spark.streaming.stateful_v2 import streaming_user_profile

    rows = [
        (1, TS(2024, 1, 1, 10, 0), "click", 100),
        (1, TS(2024, 1, 1, 11, 0), "view", 250),
        (1, TS(2024, 1, 1, 12, 0), "click", 50),
        (2, TS(2024, 1, 1, 10, 30), "purchase", 999),
    ]
    schema = "user_id bigint, ts timestamp, event_type string, cents bigint"
    d = str(tmp_path_factory.mktemp("twsp_src"))
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d, mode="overwrite")
    src = spark.readStream.schema(schema).parquet(d).select(
        "user_id", "cents", "event_type")
    out = streaming_user_profile(src)
    drain_available_now(out, "t_twsp", output_mode="update",
                        checkpoint_dir=str(tmp_path_factory.mktemp("twsp_ckpt")),
                        timeout_s=120)
    got = {(r.user_id): (r.n_events, r.total_cents, r.n_types)
           for r in spark.table("t_twsp").collect()}
    assert got[1] == (3, 400, 2) and got[2] == (1, 999, 1)


def test_streaming_interval_join_left_semi_exactly_once(spark, tmp_path):
    """LEFT SEMI stream-stream interval join (15th drained class):
    a left row with >= 1 match in [its ts, ts + 30 min] emits EXACTLY
    once with only the left side's columns, however many right rows
    match; unmatched left rows never emit (no sentinel needed — semi
    emission happens on match, not on watermark proof)."""
    import os

    from feast_ibm_spark.streaming.interval_join import streaming_interval_join

    d = str(tmp_path)
    left = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 10, 0)),   # 2 matches -> emits once
            (1, TS(2024, 1, 1, 12, 0)),   # no match -> never emits
            (2, TS(2024, 1, 1, 10, 0)),   # match other key -> emits
            (3, TS(2024, 1, 1, 10, 0)),   # right row exists but 31 min late
        ],
        "user_id bigint, l_ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 10, 10)),
            (1, TS(2024, 1, 1, 10, 20)),
            (2, TS(2024, 1, 1, 10, 30)),
            (3, TS(2024, 1, 1, 10, 31)),
        ],
        "user_id bigint, r_ts timestamp",
    )
    left.coalesce(1).write.parquet(os.path.join(d, "l"))
    right.coalesce(1).write.parquet(os.path.join(d, "r"))

    ls = spark.readStream.schema(left.schema).parquet(os.path.join(d, "l"))
    rs = spark.readStream.schema(right.schema).parquet(os.path.join(d, "r"))
    joined = streaming_interval_join(
        ls, rs, ["user_id"], left_ts="l_ts", right_ts="r_ts",
        before_seconds=1800, after_seconds=0, how="left_semi",
    )
    assert joined.columns == ["user_id", "l_ts"]  # left-only projection

    from feast_ibm_spark.streaming import drain_available_now

    out = drain_available_now(joined, "t_semi_ivj", timeout_s=120)
    rows = [(r.user_id, r.l_ts) for r in out.collect()]
    assert sorted(rows) == [
        (1, TS(2024, 1, 1, 10, 0)),
        (2, TS(2024, 1, 1, 10, 0)),
    ]


def test_chained_join_then_window_runs_two_stateful_operators(
    spark, tmp_path_factory
):
    """The 17th drained class is CHAINED stateful execution: a
    stream-stream interval join feeding a windowed aggregation in one
    query. Pins (a) exact values on a crafted fixture incl. a sentinel
    that flushes the final window, and (b) that the executed query
    really carried TWO state stores (stateOperators in the progress
    event: symmetricHashJoin + stateStoreSave), not a collapsed plan."""
    import os

    d = str(tmp_path_factory.mktemp("jtw"))
    # clicks at 10:00 and 10:05; purchases at 10:10 and 10:40 (user 1):
    # both clicks fall in the 30-min window before 10:10, neither
    # reaches 10:40 (10:40 - 30min = 10:10 > both). Far-future sentinel
    # rows (user -1) in both roles flush the final window on the drain
    left = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 10, 0)),
            (1, TS(2024, 1, 1, 10, 5)),
            (-1, TS(2024, 1, 2, 10, 0)),
        ],
        "user_id bigint, click_ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 10, 10), 100),
            (1, TS(2024, 1, 1, 10, 40), 900),
            (-1, TS(2024, 1, 2, 10, 0), 0),
        ],
        "user_id bigint, purchase_ts timestamp, cents bigint",
    )
    left.coalesce(1).write.parquet(os.path.join(d, "l"))
    right.coalesce(1).write.parquet(os.path.join(d, "r"))
    ls = spark.readStream.schema(left.schema).parquet(os.path.join(d, "l"))
    rs = spark.readStream.schema(right.schema).parquet(os.path.join(d, "r"))

    from pyspark.sql import functions as F

    from feast_ibm_spark.streaming.interval_join import streaming_interval_join

    joined = streaming_interval_join(
        ls, rs, ["user_id"], left_ts="click_ts", right_ts="purchase_ts",
        before_seconds=1800, after_seconds=0,
    )
    agg = (
        joined.groupBy(
            F.window("purchase_ts", "1 hour").alias("win"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"), F.sum("cents").alias("s"))
    )
    q = (
        agg.writeStream.format("memory").queryName("t_jtw")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    ops = (q.lastProgress or {}).get("stateOperators") or []
    op_names = sorted(o.get("operatorName", "") for o in ops)
    assert len(ops) == 2, ops
    assert any("symmetricHashJoin" in n for n in op_names), op_names
    assert any("stateStoreSave" in n for n in op_names), op_names

    rows = [
        (r.user_id, r.win.start, r.n_pairs, r.s)
        for r in spark.table("t_jtw").collect()
        if r.user_id >= 0
    ]
    # both clicks pair with the 10:10 purchase; nothing reaches 10:40,
    # so ONE hourly window with 2 pairs summing 200 cents
    assert rows == [(1, TS(2024, 1, 1, 10, 0), 2, 200)]


def test_chained_join_then_window_survives_restart(spark, tmp_path):
    """Checkpoint recovery across BOTH state stores of the chained
    query: run 1 buffers a click+purchase in the JOIN state and an
    un-flushed window in the AGG state (watermark hasn't passed it);
    after a restart with a fresh writer on the same checkpoint, run 2's
    rows must pair against run 1's buffered join state, merge into the
    same window, and flush once the sentinel advances the watermark —
    proving two-deep state recovery, not just replay."""
    import os

    from pyspark.sql import functions as F

    from feast_ibm_spark.streaming.interval_join import streaming_interval_join

    lschema = "user_id bigint, click_ts timestamp"
    rschema = "user_id bigint, purchase_ts timestamp, cents bigint"
    lsrc, rsrc = tmp_path / "l", tmp_path / "r"
    lsrc.mkdir(); rsrc.mkdir()
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        ls = spark.readStream.schema(lschema).parquet(str(lsrc))
        rs = spark.readStream.schema(rschema).parquet(str(rsrc))
        joined = streaming_interval_join(
            ls, rs, ["user_id"], left_ts="click_ts",
            right_ts="purchase_ts", before_seconds=1800, after_seconds=0,
        )
        agg = (
            joined.groupBy(
                F.window("purchase_ts", "1 hour").alias("win"), "user_id"
            )
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum("cents").alias("s"))
        )
        q = (
            agg.select(F.col("win.start").alias("ws"), "user_id",
                       "n_pairs", "s")
            .writeStream.format("parquet").option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(300)

    # run 1: one click + one purchase — pair sits in join state, its
    # window sits un-flushed in agg state
    spark.createDataFrame([(1, TS(2024, 1, 1, 10, 0))], lschema) \
        .coalesce(1).write.mode("append").parquet(str(lsrc))
    spark.createDataFrame([(1, TS(2024, 1, 1, 10, 10), 100)], rschema) \
        .coalesce(1).write.mode("append").parquet(str(rsrc))
    run_once()
    pre = spark.read.schema(
        "ws timestamp, user_id bigint, n_pairs bigint, s bigint"
    ).parquet(out_dir).filter("user_id >= 0")
    assert pre.count() == 0  # nothing flushed yet — state is in flight

    # restart: later rows must join against run 1's buffered state;
    # sentinel (user -1, next day) flushes the real window
    spark.createDataFrame(
        [(1, TS(2024, 1, 1, 10, 20)), (-1, TS(2024, 1, 2, 10, 0))], lschema
    ).coalesce(1).write.mode("append").parquet(str(lsrc))
    spark.createDataFrame(
        [(1, TS(2024, 1, 1, 10, 30), 50), (-1, TS(2024, 1, 2, 10, 0), 0)],
        rschema,
    ).coalesce(1).write.mode("append").parquet(str(rsrc))
    run_once()

    rows = sorted(
        (r.user_id, r.ws, r.n_pairs, r.s)
        for r in spark.read.parquet(out_dir)
        .filter("user_id >= 0").collect()
    )
    # pairs across the restart boundary: (c10:00,p10:10,100) buffered in
    # run 1; run 2 adds (c10:00,p10:30,50) — old click vs new purchase —
    # and (c10:20,p10:30,50); all in ONE hourly window
    assert rows == [(1, TS(2024, 1, 1, 10, 0), 3, 200)]
