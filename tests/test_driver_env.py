"""Driver-environment robustness pins (VERDICT r6 item 6).

The driver gate runs in an environment the repo does not control; the two
env-sensitive surfaces the builder has identified are (a) streaming drain
termination — a timer-armed stateful plan schedules empty micro-batches
forever under availableNow, so an unbounded drain would hang the whole
gate — and (b) temp-directory placement — every checkpoint/scratch path
flows through ``tempfile``, so a read-only /tmp must be escapable via the
standard TMPDIR redirect without code changes. Both contracts are pinned
here so a non-green first-time gate row can be triaged against them.
"""

import os
import tempfile
import uuid
from datetime import datetime as TS

import pytest

from feast_ibm_spark.streaming import (
    drain_available_now,
    stream_parquet_source,
    streaming_sessionize,
)


@pytest.fixture(scope="module")
def tiny_event_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("driver_env"))
    df = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 10, 0), 1.0),
            (1, TS(2024, 1, 1, 10, 5), 2.0),
            (2, TS(2024, 1, 1, 11, 0), 3.0),
        ],
        "user_id bigint, ts timestamp, value double",
    )
    df.write.mode("overwrite").parquet(d)
    return d, df.schema


def test_drain_timeout_cap_is_hard_and_leaves_no_live_query(
    spark, tiny_event_dir
):
    """A stream that never reaches the drained fixed point (open sessions
    held by an idle timeout far beyond the cap keep state rows > 0, and
    ProcessingTimeTimeout keeps availableNow scheduling empty batches
    forever) must raise TimeoutError within the cap AND stop the query —
    a gate query can fail its row, but it must not hang the driver or
    leak an active stream into the next gate query's session."""
    d, schema = tiny_event_dir
    src = stream_parquet_source(spark, d, schema)
    # one open session per key, flushed only after an hour of processing
    # time: the fixed point (0 state rows) is unreachable inside the cap
    sessions = streaming_sessionize(
        src, ["user_id"], "ts", gap_seconds=60, idle_timeout_seconds=3600
    )
    name = f"t_env_timeout_{uuid.uuid4().hex[:8]}"
    before = {q.id for q in spark.streams.active}
    with pytest.raises(TimeoutError, match="not drained"):
        drain_available_now(sessions, name, timeout_s=8.0)
    leaked = [q for q in spark.streams.active if q.id not in before]
    assert leaked == []


def test_drain_empty_batch_fixed_point_exits_early(spark, tiny_event_dir):
    """The fixed-point early-exit: the same timer-armed plan with a SHORT
    idle timeout flushes its open sessions on an empty batch and the
    drain returns well under the 600 s cap — the gate's streaming rows
    terminate on the data, not on the timeout."""
    import time

    d, schema = tiny_event_dir
    src = stream_parquet_source(spark, d, schema)
    sessions = streaming_sessionize(
        src, ["user_id"], "ts", gap_seconds=60, idle_timeout_seconds=0.5
    )
    name = f"t_env_fixedpoint_{uuid.uuid4().hex[:8]}"
    t0 = time.time()
    out = drain_available_now(sessions, name, timeout_s=120)
    elapsed = time.time() - t0
    # both keys' open sessions flushed by the idle timeout, then state
    # emptied -> early exit; generous bound, but far under the cap
    assert {r.user_id for r in out.collect()} == {1, 2}
    assert elapsed < 60


@pytest.mark.parametrize(
    "name",
    [
        "streaming_latest",
        "streaming_first_seen",
        "streaming_sessionize_files",
        "streaming_cdc_merge",
        "streaming_router",
    ],
)
def test_tempdir_redirect_via_tmpdir_env(
    spark, sf_dir, monkeypatch, tmp_path, name
):
    """Every scratch path (streaming checkpoints included) flows through
    ``tempfile``; pointing TMPDIR at a writable directory must be enough
    to run a streaming gate query when /tmp is unusable. Pin: with the
    redirect active, every directory the query makes lands under the
    redirected root, its drain checkpoint existed there, and after
    ``collect()`` only the directories the returned frame reads are
    left — checkpoints and per-run source copies are removed."""
    from urllib.parse import urlparse

    redirect = tmp_path / "scratch"
    redirect.mkdir()
    monkeypatch.setenv("TMPDIR", str(redirect))
    # tempfile caches the resolved tempdir at first use; force re-resolve
    monkeypatch.setattr(tempfile, "tempdir", None)
    made = []
    real_mkdtemp = tempfile.mkdtemp

    def spy(*args, **kwargs):
        made.append(real_mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    try:
        assert tempfile.gettempdir() == str(redirect)
        from feast_ibm_spark.queries import QUERIES

        out = QUERIES[name].fn(spark, sf_dir)
        assert out.collect()
        read = [urlparse(f).path for f in out.inputFiles()]
        assert made and all(d.startswith(f"{redirect}/") for d in made), made
        ckpts = [d for d in made if os.path.basename(d).startswith("fis_ckpt_")]
        assert ckpts, "no drain checkpoint landed under the TMPDIR redirect"
        left = [d for d in made if os.path.exists(d)]
        assert all(
            any(f.startswith(f"{d}/") for f in read) for d in left
        ), (left, read)
    finally:
        monkeypatch.setattr(tempfile, "tempdir", None)


@pytest.mark.parametrize("name", ["scan_merge_schema", "scan_csv_quarantine"])
def test_scan_scratch_is_built_once_per_sf(
    spark, sf_dir, monkeypatch, tmp_path, name
):
    """The files these scans read are a function of ``sf_dir``: a second
    run reuses the first run's directories instead of leaving another
    copy under the temp root, and returns the same rows."""
    redirect = tmp_path / "scratch"
    redirect.mkdir()
    monkeypatch.setenv("TMPDIR", str(redirect))
    monkeypatch.setattr(tempfile, "tempdir", None)
    try:
        from feast_ibm_spark.queries import QUERIES

        results, entries = [], []
        for _ in range(2):
            results.append(sorted(QUERIES[name].fn(spark, sf_dir).collect()))
            entries.append(
                sorted(e for e in os.listdir(redirect) if e.startswith("fis_"))
            )
        assert entries[0] and entries[1] == entries[0], entries
        assert results[1] == results[0]
    finally:
        monkeypatch.setattr(tempfile, "tempdir", None)


def test_configure_runtime_matches_get_spark_defaults(spark):
    """Both session paths apply one defaults table: a host session with
    every table key unset gets, from configure_runtime, exactly the values
    of the get_spark session (the listing cap derived from its task
    slots), and keeps its own shuffle partition count."""
    from feast_ibm_spark.session import (
        ENGINE_DEFAULTS,
        LISTING_PARALLELISM,
        configure_runtime,
    )

    keys = [*ENGINE_DEFAULTS, LISTING_PARALLELISM, "spark.sql.shuffle.partitions"]
    saved = {k: spark.conf.get(k) for k in keys}
    assert {k: saved[k] for k in ENGINE_DEFAULTS} == ENGINE_DEFAULTS
    slots = spark.sparkContext.defaultParallelism
    assert saved[LISTING_PARALLELISM] == str(min(10_000, 4 * slots))
    try:
        for k in [*ENGINE_DEFAULTS, LISTING_PARALLELISM]:
            spark.conf.unset(k)
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        configure_runtime(spark)
        got = {k: spark.conf.get(k) for k in keys}
        assert got == {**saved, "spark.sql.shuffle.partitions": "3"}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_get_spark_extra_conf_wins_over_engine_defaults(spark):
    """``extra_conf`` overrides a table default and the slot-derived
    listing cap on the session get_spark returns."""
    from feast_ibm_spark.session import LISTING_PARALLELISM, get_spark

    threshold = "spark.sql.autoBroadcastJoinThreshold"
    keys = [threshold, LISTING_PARALLELISM, "spark.sql.shuffle.partitions"]
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        s = get_spark(
            app_name=spark.sparkContext.appName,
            shuffle_partitions=int(saved["spark.sql.shuffle.partitions"]),
            extra_conf={threshold: "-1", LISTING_PARALLELISM: "7"},
        )
        assert s.conf.get(threshold) == "-1"
        assert s.conf.get(LISTING_PARALLELISM) == "7"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_query_build_keeps_host_conf_override(spark, sf_dir):
    """Building a query leaves the session config as the host set it:
    with broadcast joins switched off, ``join_top_orders`` is built, the
    threshold still reads -1, and its de-hinted joins plan as sort-merge
    joins only."""
    from feast_ibm_spark.queries import QUERIES

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        df = QUERIES["join_top_orders"].fn(spark, sf_dir)
        assert spark.conf.get(key) == "-1"
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set(key, saved)


def test_driver_entry_applies_engine_defaults(spark, sf_dir, monkeypatch):
    """The driver contract is the one entry that applies the engine
    config to a host session: with every table key unset, a function
    from ``__spark_entry__.queries()`` restores the table (and the
    listing cap) before the query body runs."""
    import sys

    from feast_ibm_spark.queries import DRIVER_QUERIES
    from feast_ibm_spark.session import ENGINE_DEFAULTS, LISTING_PARALLELISM

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod

    keys = [*ENGINE_DEFAULTS, LISTING_PARALLELISM]
    saved = {k: spark.conf.get(k) for k in keys}
    seen = {}

    def body(s, d):
        seen.update({k: s.conf.get(k, None) for k in keys})
        return s.range(1)

    name, qd = next(iter(DRIVER_QUERIES.items()))
    monkeypatch.setattr(qd, "fn", body)
    try:
        for k in keys:
            spark.conf.unset(k)
        entry_mod.queries()[name](spark, sf_dir)
        assert seen == saved
        assert {k: spark.conf.get(k) for k in ENGINE_DEFAULTS} == ENGINE_DEFAULTS
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_session_paths_plan_tpch_joins_alike(spark, sf_dir):
    """The plan-level twin of the defaults-table pin: two de-hinted TPC-H
    joins, whose broadcast-or-shuffle choice rests on the session's
    broadcast threshold, plan the same join operators on the get_spark
    session and after configure_runtime re-applies the defaults to a
    session with every table key unset. The frames are built once and
    each path re-plans them through a fresh ``select``; nothing is
    executed."""
    import re

    from feast_ibm_spark.queries import QUERIES
    from feast_ibm_spark.session import (
        ENGINE_DEFAULTS,
        LISTING_PARALLELISM,
        configure_runtime,
    )

    def join_ops(frames):
        return {
            name: re.findall(
                r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastNestedLoopJoin|CartesianProduct)\b",
                df.select("*")._jdf.queryExecution().executedPlan().toString(),
            )
            for name, df in frames.items()
        }

    keys = [*ENGINE_DEFAULTS, LISTING_PARALLELISM]
    saved = {k: spark.conf.get(k) for k in keys}
    frames = {
        name: QUERIES[name].fn(spark, sf_dir)
        for name in ["join_top_orders", "join_region_revenue"]
    }
    before = join_ops(frames)
    assert all(len(ops) >= 2 for ops in before.values()), before
    try:
        for k in keys:
            spark.conf.unset(k)
        configure_runtime(spark)
        assert join_ops(frames) == before
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
