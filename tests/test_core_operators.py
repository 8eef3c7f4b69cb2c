"""Semantic tests for the three reference retrieval shapes.

The reference only golden-tests generated SQL strings (it cannot execute);
we execute and assert results — including the reference's canonical
``driver_stats`` scenario (reference ``tests/test_integration.py:183-196``)
computed from raw inputs, which the mocked reference test never actually
did."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from feast_ibm_spark.operators import (
    FeatureViewSpec,
    latest_per_key,
    point_in_time_join,
    time_range_scan,
)

TS = datetime


def _driver_stats(spark):
    """The reference's canonical fixture (tests/test_integration.py:29-49
    and FIXTURES.md §1/§2)."""
    feat = spark.createDataFrame(
        [
            # driver_id, event_timestamp, created, conv_rate, acc_rate, avg_daily_trips
            (1001, TS(2021, 4, 12, 10, 0, 0), TS(2021, 4, 12, 10, 0, 0), 1.0, 1.0, 200),
            (1001, TS(2021, 4, 12, 8, 0, 0), TS(2021, 4, 12, 8, 0, 0), 0.5, 0.5, 100),
            (1002, TS(2021, 4, 12, 8, 0, 0), TS(2021, 4, 12, 8, 0, 0), 2.0, 1.0, 300),
            (1003, TS(2021, 4, 12, 16, 0, 0), TS(2021, 4, 12, 16, 0, 0), 3.0, 0.0, 400),
            # stale row outside 1-day TTL for 1003's spine ts
            (1003, TS(2021, 4, 10, 16, 0, 0), TS(2021, 4, 10, 16, 0, 0), 9.9, 9.9, 999),
            # tie on event_timestamp for 1002, later created wins
            (1002, TS(2021, 4, 12, 8, 0, 0), TS(2021, 4, 12, 9, 0, 0), 2.5, 1.5, 301),
        ],
        "driver_id bigint, event_timestamp timestamp, created timestamp, "
        "conv_rate double, acc_rate double, avg_daily_trips bigint",
    )
    spine = spark.createDataFrame(
        [
            (1001, TS(2021, 4, 12, 10, 59, 42), 1),
            (1002, TS(2021, 4, 12, 8, 12, 10), 5),
            (1003, TS(2021, 4, 12, 16, 40, 26), 3),
            (1004, TS(2021, 4, 12, 16, 40, 26), 7),  # no features -> NULLs
        ],
        "driver_id bigint, event_timestamp timestamp, "
        "label_driver_reported_satisfaction bigint",
    )
    view = FeatureViewSpec(
        name="driver_hourly_stats",
        source=feat,
        join_keys=["driver_id"],
        features=["conv_rate", "acc_rate", "avg_daily_trips"],
        timestamp_field="event_timestamp",
        created_timestamp_column="created",
        ttl_seconds=86400,
    )
    return spine, view


def test_time_range_scan_inclusive_bounds(spark):
    df = spark.createDataFrame(
        [
            (1, "a", TS(2024, 1, 1)),
            (2, "b", TS(2024, 1, 2)),
            (3, "c", TS(2024, 1, 3)),
            (4, "d", TS(2024, 1, 4)),
        ],
        "docid bigint, source string, timestamp timestamp",
    )
    out = time_range_scan(
        df, ["docid"], ["source"], "timestamp", TS(2024, 1, 2), TS(2024, 1, 3)
    )
    rows = sorted(r.docid for r in out.collect())
    assert rows == [2, 3]  # BETWEEN is inclusive both ends (reference :79)
    assert out.columns == ["docid", "source", "timestamp"]


def test_latest_per_key_tie_break_by_created(spark):
    df = spark.createDataFrame(
        [
            (1, "old", TS(2024, 1, 1), TS(2024, 1, 1)),
            (1, "newer_created", TS(2024, 1, 2), TS(2024, 1, 5)),
            (1, "tie_older_created", TS(2024, 1, 2), TS(2024, 1, 3)),
            (2, "only", TS(2024, 1, 1), TS(2024, 1, 1)),
        ],
        "k bigint, v string, ts timestamp, created timestamp",
    )
    out = latest_per_key(df, ["k"], ["v"], "ts", "created", TS(2024, 1, 1), TS(2024, 1, 9))
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "newer_created", 2: "only"}


def test_latest_per_key_keep_ties_compat(spark):
    """Reference compat: created column unused, ties all kept (:428, :461-464)."""
    df = spark.createDataFrame(
        [
            (1, "a", TS(2024, 1, 2)),
            (1, "b", TS(2024, 1, 2)),
            (1, "c", TS(2024, 1, 1)),
        ],
        "k bigint, v string, ts timestamp",
    )
    out = latest_per_key(df, ["k"], ["v"], "ts", None, TS(2024, 1, 1), TS(2024, 1, 9),
                         keep_ties=True)
    assert sorted(r.v for r in out.collect()) == ["a", "b"]


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle", "union_window"])
def test_pit_join_driver_stats(spark, strategy):
    spine, view = _driver_stats(spark)
    out = point_in_time_join(spine, [view], strategy=strategy).orderBy("driver_id")
    rows = out.collect()
    assert [r.driver_id for r in rows] == [1001, 1002, 1003, 1004]
    by_id = {r.driver_id: r for r in rows}
    # expected values per reference tests/test_integration.py:183-196 shape
    assert by_id[1001].conv_rate == 1.0 and by_id[1001].avg_daily_trips == 200
    assert by_id[1002].conv_rate == 2.5  # created-ts tiebreak winner
    assert by_id[1003].conv_rate == 3.0  # stale row excluded by TTL
    assert by_id[1004].conv_rate is None  # left join NULL padding
    # label column survives (reference tests/test_integration.py:160)
    assert by_id[1002].label_driver_reported_satisfaction == 5


@pytest.mark.parametrize("strategy", ["broadcast", "union_window"])
def test_pit_join_ttl_zero_means_no_lower_bound(spark, strategy):
    spine, view = _driver_stats(spark)
    view.ttl_seconds = 0  # reference :669, :688-690
    out = point_in_time_join(spine, [view], strategy=strategy)
    by_id = {r.driver_id: r for r in out.collect()}
    assert by_id[1003].conv_rate == 3.0  # latest still wins even without bound


def test_pit_join_full_feature_names(spark):
    spine, view = _driver_stats(spark)
    out = point_in_time_join(spine, [view], full_feature_names=True)
    assert "driver_hourly_stats__conv_rate" in out.columns


def test_pit_join_inclusive_asof_bound(spark):
    """feature.ts == spine.ts must match (<=, reference :686)."""
    feat = spark.createDataFrame(
        [(1, TS(2024, 1, 2), 42.0)], "k bigint, event_timestamp timestamp, v double"
    )
    spine = spark.createDataFrame(
        [(1, TS(2024, 1, 2))], "k bigint, event_timestamp timestamp"
    )
    view = FeatureViewSpec("fv", feat, ["k"], ["v"], "event_timestamp")
    for strategy in ("broadcast", "union_window"):
        assert point_in_time_join(spine, [view], strategy=strategy).first().v == 42.0


def test_pit_join_multiple_views(spark):
    spine, view = _driver_stats(spark)
    extra = spark.createDataFrame(
        [(1001, TS(2021, 4, 12, 9, 0, 0), 7.0)],
        "driver_id bigint, event_timestamp timestamp, bonus double",
    )
    view2 = FeatureViewSpec("bonus_view", extra, ["driver_id"], ["bonus"],
                            "event_timestamp", ttl_seconds=86400)
    out = point_in_time_join(spine, [view, view2])
    by_id = {r.driver_id: r for r in out.collect()}
    assert by_id[1001].bonus == 7.0 and by_id[1002].bonus is None
    assert by_id[1002].conv_rate == 2.5


def _brute_force_pit(spine_rows, feat_rows, ttl):
    """Per-row oracle (FIXTURES.md §6)."""
    out = {}
    for k, sts in spine_rows:
        best = None
        for fk, fts, created, v in feat_rows:
            if fk != k or fts > sts:
                continue
            if ttl and fts < sts - timedelta(seconds=ttl):
                continue
            cand = (fts, created, v)
            if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                best = cand
        out[(k, sts)] = best[2] if best else None
    return out


# strategy="auto" forced down each of its branches through the existing
# threshold arguments (spine: <= 40 distinct rows, repeated keys)
_AUTO_BRANCHES = {
    "auto": {},  # melt + broadcast key prune
    "auto_no_prune": {"auto_broadcast_rows": 0},  # melt, no key prune
    "auto_salted": {"salt_partition_budget_rows": 1},  # salted escalation
}


@pytest.mark.parametrize(
    "strategy",
    ["broadcast", "shuffle", "union_window", "union_window_salted", *_AUTO_BRANCHES],
)
@pytest.mark.parametrize("ttl", [0, 3600])
def test_pit_join_randomized_against_brute_force(spark, strategy, ttl):
    import random

    rng = random.Random(42)
    base = TS(2024, 1, 1)
    instants = [base + timedelta(minutes=30 * i) for i in range(20)]
    feat_rows = [
        # unique created per row so the (ts, created) tiebreak is total
        (rng.randint(1, 5), rng.choice(instants),
         rng.choice(instants) + timedelta(seconds=i), float(i))
        for i in range(120)
    ]
    spine_rows = [(rng.randint(1, 6), rng.choice(instants)) for _ in range(40)]
    spine_rows = list(dict.fromkeys(spine_rows))

    feat = spark.createDataFrame(
        feat_rows, "k bigint, event_timestamp timestamp, created timestamp, v double"
    )
    spine = spark.createDataFrame(spine_rows, "k bigint, event_timestamp timestamp")
    view = FeatureViewSpec("fv", feat, ["k"], ["v"], "event_timestamp",
                           created_timestamp_column="created", ttl_seconds=ttl)
    kwargs = _AUTO_BRANCHES.get(strategy)
    if kwargs is not None:
        strategy = "auto"
    got = {
        (r.k, r.event_timestamp): r.v
        for r in point_in_time_join(
            spine, [view], strategy=strategy, **(kwargs or {})
        ).collect()
    }
    expected = _brute_force_pit(spine_rows, feat_rows, ttl)
    assert got == expected


@pytest.mark.parametrize(
    "strategy", ["broadcast", "shuffle", "union_window", "union_window_salted"]
)
def test_pit_join_strategies_on_ntz_timestamps(spark, strategy):
    """Every strategy must accept TIMESTAMP_NTZ sources (round-7
    regression: the salted melt's time-bucket expression used
    cast(ts as double), which is illegal on NTZ — found by the hot-spine
    bench, fixed by the zone-free wall-clock decomposition
    unix_date(to_date(c))*86400 + hour/minute/second in
    _join_one_view_union_window_salted; a session-zone TIMESTAMP cast
    would be non-monotone across DST gaps, see the DST-gap test below).
    Same randomized brute-force oracle as the TZ test."""
    import random

    rng = random.Random(7)
    base = TS(2024, 1, 1)
    instants = [base + timedelta(minutes=30 * i) for i in range(20)]
    feat_rows = [
        (rng.randint(1, 5), rng.choice(instants),
         rng.choice(instants) + timedelta(seconds=i), float(i))
        for i in range(120)
    ]
    spine_rows = [(rng.randint(1, 6), rng.choice(instants)) for _ in range(40)]
    spine_rows = list(dict.fromkeys(spine_rows))

    feat = spark.createDataFrame(
        feat_rows,
        "k bigint, event_timestamp timestamp_ntz, created timestamp_ntz, v double",
    )
    spine = spark.createDataFrame(
        spine_rows, "k bigint, event_timestamp timestamp_ntz"
    )
    view = FeatureViewSpec("fv", feat, ["k"], ["v"], "event_timestamp",
                           created_timestamp_column="created",
                           ttl_seconds=3600)
    got = {
        (r.k, r.event_timestamp): r.v
        for r in point_in_time_join(spine, [view], strategy=strategy).collect()
    }
    expected = _brute_force_pit(spine_rows, feat_rows, 3600)
    assert got == expected


def test_sessionize_gap_semantics(spark):
    from datetime import datetime as TS

    from feast_ibm_spark.operators.sessionize import sessionize

    df = spark.createDataFrame(
        [
            (1, 1, TS(2024, 1, 1, 10, 0, 0)),
            (1, 2, TS(2024, 1, 1, 10, 30, 0)),   # exactly at gap edge: extends
            (1, 3, TS(2024, 1, 1, 11, 0, 1)),    # 1s beyond gap: new session
            (2, 4, TS(2024, 1, 1, 9, 0, 0)),
        ],
        "user_id bigint, event_id bigint, ts timestamp",
    )
    out = sessionize(df, ["user_id"], "ts", gap_seconds=1800,
                     tiebreak_cols=["event_id"])
    rows = {(r.user_id, r.session_id): (r.session_start, r.session_end, r.n_events)
            for r in out.collect()}
    assert rows[(1, 1)] == (TS(2024, 1, 1, 10, 0, 0), TS(2024, 1, 1, 10, 30, 0), 2)
    assert rows[(1, 2)] == (TS(2024, 1, 1, 11, 0, 1), TS(2024, 1, 1, 11, 0, 1), 1)
    assert rows[(2, 1)][2] == 1


def test_retrieval_job_lazy_to_df_to_arrow(spark, tmp_path):
    """K3 result delivery + laziness contract (reference :313-348): nothing
    executes until to_df/to_arrow; both edges deliver the same rows."""
    import pyarrow as pa

    from feast_ibm_spark.retrieval import SparkRetrievalJob

    calls = []

    def evaluate():
        calls.append(1)
        return spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")

    job = SparkRetrievalJob(evaluate)
    assert calls == []  # lazy: building the job ran nothing
    pdf = job.to_df()
    assert sorted(pdf["id"].tolist()) == [1, 2]
    tbl = job.to_arrow()
    assert isinstance(tbl, pa.Table) and tbl.num_rows == 2


def test_offline_write_batch_persist(spark, tmp_path):
    """K4 persist — the reference raises NotImplementedError (:321-327);
    here it writes parquet that reads back identically."""
    from feast_ibm_spark.store import SparkOfflineStore

    df = spark.createDataFrame([(1, 2.0), (2, 3.0)], "k bigint, v double")
    path = str(tmp_path / "persisted")
    SparkOfflineStore.offline_write_batch(df, path, mode="overwrite")
    back = spark.read.parquet(path)
    assert {(r.k, r.v) for r in back.collect()} == {(1, 2.0), (2, 3.0)}


# --- hypothesis property test: arbitrary event sets vs the brute-force
# oracle (the reference DECLARED hypothesis as a dev-dep but never used
# it, SURVEY.md §5; here it actually runs) ---------------------------------

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HAS_HYPOTHESIS = True
except Exception:  # pragma: no cover
    _HAS_HYPOTHESIS = False


if _HAS_HYPOTHESIS:

    @given(
        feat=st.lists(
            st.tuples(
                st.integers(1, 3),      # key
                st.integers(0, 48),     # event offset (hours)
            ),
            min_size=0,
            max_size=25,
        ),
        spine=st.lists(
            st.tuples(st.integers(1, 4), st.integers(0, 48)),
            min_size=1,
            max_size=12,
            unique=True,
        ),
        ttl=st.sampled_from([0, 7200]),
        strategy=st.sampled_from(["broadcast", "union_window"]),
    )
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_pit_join_property_matches_brute_force(spark, feat, spine, ttl, strategy):
        base = TS(2024, 1, 1)
        feat_rows = [
            # unique created per row -> the (ts DESC, created DESC) order
            # is total, so the winner is unambiguous
            (k, base + timedelta(hours=h), base + timedelta(seconds=i), float(i))
            for i, (k, h) in enumerate(feat)
        ]
        spine_rows = [(k, base + timedelta(hours=h)) for k, h in spine]

        feat_df = spark.createDataFrame(
            feat_rows or [(0, base, base, 0.0)],
            "k bigint, event_timestamp timestamp, created timestamp, v double",
        )
        if not feat_rows:
            feat_df = feat_df.filter("k < 0")  # genuinely empty feature side
        spine_df = spark.createDataFrame(
            spine_rows, "k bigint, event_timestamp timestamp"
        )
        view = FeatureViewSpec(
            "fv", feat_df, ["k"], ["v"], "event_timestamp",
            created_timestamp_column="created", ttl_seconds=ttl,
        )
        got = {
            (r.k, r.event_timestamp): r.v
            for r in point_in_time_join(
                spine_df, [view], strategy=strategy
            ).collect()
        }
        assert got == _brute_force_pit(spine_rows, feat_rows, ttl)


def test_offline_write_batch_partitioned(spark, tmp_path):
    import os

    from feast_ibm_spark.store import SparkOfflineStore

    df = spark.createDataFrame(
        [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)],
        "k bigint, day string, v double",
    )
    path = str(tmp_path / "part_out")
    SparkOfflineStore.offline_write_batch(df, path, mode="overwrite",
                                          partition_by=["day"])
    assert sorted(d for d in os.listdir(path) if d.startswith("day=")) == [
        "day=2024-01-01", "day=2024-01-02"]
    assert spark.read.parquet(path).count() == 2


def test_materialize_increment(spark, tmp_path):
    from datetime import datetime as TS

    from feast_ibm_spark.sources.data_source import SparkDataSource
    from feast_ibm_spark.store import SparkOfflineStore

    spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 10), TS(2024, 1, 1, 10), 1.0),
            (1, TS(2024, 1, 2, 10), TS(2024, 1, 2, 10), 2.0),  # winner for k=1
            (2, TS(2024, 1, 1, 9), TS(2024, 1, 1, 9), 5.0),
            (1, TS(2024, 2, 1, 0), TS(2024, 2, 1, 0), 9.0),    # outside slice
        ],
        "k bigint, ts timestamp, created timestamp, v double",
    ).createOrReplaceTempView("mat_src")
    dest = str(tmp_path / "online_snapshot")
    n = SparkOfflineStore.materialize(
        spark, SparkDataSource(table="mat_src"), ["k"], ["v"], "ts",
        "created", TS(2024, 1, 1), TS(2024, 1, 31), dest,
    )
    assert n == 2
    got = {r.k: r.v for r in spark.read.parquet(dest).collect()}
    assert got == {1: 2.0, 2: 5.0}


def test_materialize_partitioned_retry_is_idempotent(spark, tmp_path):
    """Day-partitioned materialize: a verbatim re-run of a slice replaces
    its day directories (dynamic partition overwrite) instead of
    appending — retry adds zero duplicate rows, and days outside the
    retried slice are untouched."""
    import os

    from datetime import datetime as TS

    from feast_ibm_spark.sources.data_source import SparkDataSource
    from feast_ibm_spark.store import SparkOfflineStore

    spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 10), TS(2024, 1, 1, 10), 1.0),
            (2, TS(2024, 1, 1, 9), TS(2024, 1, 1, 9), 5.0),
            (1, TS(2024, 1, 2, 10), TS(2024, 1, 2, 10), 2.0),
            (3, TS(2024, 1, 2, 11), TS(2024, 1, 2, 11), 7.0),
        ],
        "k bigint, ts timestamp, created timestamp, v double",
    ).createOrReplaceTempView("mat_part_src")
    dest = str(tmp_path / "snap")
    args = (spark, SparkDataSource(table="mat_part_src"), ["k"], ["v"],
            "ts", "created")

    SparkOfflineStore.materialize_partitioned(
        *args, TS(2024, 1, 1), TS(2024, 1, 1, 23, 59), dest)
    n2 = SparkOfflineStore.materialize_partitioned(
        *args, TS(2024, 1, 2), TS(2024, 1, 2, 23, 59), dest)
    retry = SparkOfflineStore.materialize_partitioned(
        *args, TS(2024, 1, 2), TS(2024, 1, 2, 23, 59), dest)
    assert retry == n2 == 2
    days = sorted(d for d in os.listdir(dest) if d.startswith("snapshot_day="))
    assert days == ["snapshot_day=2024-01-01", "snapshot_day=2024-01-02"]
    got = sorted((r.k, r.v) for r in spark.read.parquet(dest).collect())
    # day-1 rows survived the day-2 retry; the retry duplicated nothing
    assert got == [(1, 1.0), (1, 2.0), (2, 5.0), (3, 7.0)]


def test_materialize_partitioned_leaves_session_overwrite_mode(spark, tmp_path):
    """Dynamic partition overwrite is scoped to materialize_partitioned's
    own writer: the session conf is unchanged afterwards, so a later
    partitioned overwrite through offline_write_batch still replaces the
    whole directory instead of keeping stale partitions."""
    import os

    from datetime import datetime as TS

    from feast_ibm_spark.sources.data_source import SparkDataSource
    from feast_ibm_spark.store import SparkOfflineStore

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.createDataFrame(
        [(1, TS(2024, 1, 1, 10), 1.0)], "k bigint, ts timestamp, v double"
    ).createOrReplaceTempView("mat_part_conf_src")
    SparkOfflineStore.materialize_partitioned(
        spark, SparkDataSource(table="mat_part_conf_src"), ["k"], ["v"], "ts",
        None, TS(2024, 1, 1), TS(2024, 1, 1, 23, 59), str(tmp_path / "snap"),
    )
    assert spark.conf.get(key) == before

    path = str(tmp_path / "batch")
    df = spark.createDataFrame([(1, "d1"), (2, "d2")], "k bigint, day string")
    SparkOfflineStore.offline_write_batch(
        df, path, mode="overwrite", partition_by=["day"])
    SparkOfflineStore.offline_write_batch(
        df.filter("day = 'd2'"), path, mode="overwrite", partition_by=["day"])
    assert sorted(d for d in os.listdir(path) if d.startswith("day=")) == ["day=d2"]


@pytest.mark.parametrize("strategy", ["broadcast", "union_window"])
def test_pit_join_composite_keys(spark, strategy):
    """Two-column entity keys: matches require BOTH keys equal."""
    feat = spark.createDataFrame(
        [
            ("us", 1, TS(2024, 1, 1, 10), 1.0),
            ("us", 2, TS(2024, 1, 1, 10), 2.0),
            ("eu", 1, TS(2024, 1, 1, 10), 3.0),  # same id, different region
        ],
        "region string, uid bigint, event_timestamp timestamp, v double",
    )
    spine = spark.createDataFrame(
        [
            ("us", 1, TS(2024, 1, 1, 12)),
            ("eu", 1, TS(2024, 1, 1, 12)),
            ("eu", 2, TS(2024, 1, 1, 12)),  # no eu/2 features -> NULL
        ],
        "region string, uid bigint, event_timestamp timestamp",
    )
    view = FeatureViewSpec("fv", feat, ["region", "uid"], ["v"], "event_timestamp")
    got = {
        (r.region, r.uid): r.v
        for r in point_in_time_join(spine, [view], strategy=strategy).collect()
    }
    assert got == {("us", 1): 1.0, ("eu", 1): 3.0, ("eu", 2): None}


if _HAS_HYPOTHESIS:

    @given(
        events=st.lists(
            st.tuples(
                st.integers(1, 3),       # key
                st.integers(0, 10_000),  # offset seconds
            ),
            min_size=1,
            max_size=40,
        ),
        gap=st.sampled_from([60, 600, 3600]),
    )
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_sessionize_property_matches_brute_force(spark, events, gap):
        """For random event streams, sessionize's (start, end, count) per
        key must equal a per-key brute-force scan: a new session starts
        when the gap to the previous event strictly exceeds gap_seconds."""
        from feast_ibm_spark.operators.sessionize import sessionize

        base = TS(2024, 1, 1)
        rows = [
            (k, base + timedelta(seconds=s), i)
            for i, (k, s) in enumerate(events)
        ]
        df = spark.createDataFrame(rows, "k bigint, ts timestamp, eid bigint")
        got = {
            (r.k, r.session_start, r.session_end, r.n_events)
            for r in sessionize(df, ["k"], "ts", gap, tiebreak_cols=["eid"]).collect()
        }

        expect = set()
        by_key: dict[int, list] = {}
        for k, ts, eid in rows:
            by_key.setdefault(k, []).append((ts, eid))
        for k, evs in by_key.items():
            evs.sort()
            sessions: list[list] = []
            prev = None
            for ts, _ in evs:
                if prev is None or (ts - prev).total_seconds() > gap:
                    sessions.append([])
                sessions[-1].append(ts)
                prev = ts
            for s in sessions:
                expect.add((k, s[0], s[-1], len(s)))
        assert got == expect


def test_pit_join_auto_strategy_picks_by_spine_size(spark):
    """strategy='auto' always melts (unless every source is bucketed on
    its join keys): at or under ``auto_broadcast_rows`` the melt adds a
    broadcast LEFT SEMI key prune, above it the melt runs unpruned;
    results identical either way."""
    from feast_ibm_spark.plans.inspect import explain_str, has_broadcast_join

    spine, view = _driver_stats(spark)
    small = point_in_time_join(spine, [view], strategy="auto")
    assert has_broadcast_join(small)

    big = point_in_time_join(
        spine, [view], strategy="auto", auto_broadcast_rows=1
    )
    text = explain_str(big)
    assert "BroadcastNestedLoopJoin" not in text
    assert "Window" in text  # the melt path
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, big.collect()))


def test_pit_join_salt_budget_zero_rejected(spark):
    """ADVICE r7: ``salt_partition_budget_rows=0`` looked like 'always
    salt' to a caller but silently disabled the probe (falsy check).
    Now: None disables, 0/negative raises, positive probes."""
    import pytest as _pytest

    spine, view = _driver_stats(spark)
    with _pytest.raises(ValueError, match="salt_partition_budget_rows"):
        point_in_time_join(
            spine, [view], strategy="auto", salt_partition_budget_rows=0
        )
    # None still means "probe disabled", not an error
    out = point_in_time_join(
        spine, [view], strategy="auto", salt_partition_budget_rows=None
    )
    assert out.count() == spine.count()
    # a tiny positive budget forces the probe AND the escalation: every
    # key's spine count (1-2 rows) exceeds budget=1 only for dup keys,
    # and results must be identical to the unprobed plan
    probed = point_in_time_join(
        spine, [view], strategy="auto", auto_broadcast_rows=1,
        salt_partition_budget_rows=1,
    )
    assert sorted(map(tuple, probed.collect())) == sorted(
        map(tuple, out.collect())
    )


@pytest.mark.parametrize("ttl", [0, 3600, 7200])
def test_pit_salted_melt_multi_bucket_carry(spark, ttl):
    """The salted melt with a 1-hour salt bucket over 10 hours of data —
    matches crossing bucket boundaries must come from the carry pass, and
    results must equal the broadcast strategy exactly."""
    import random

    from feast_ibm_spark.operators.pit_join import (
        _join_one_view_union_window_salted,
    )

    rng = random.Random(7)
    base = TS(2024, 1, 1)
    instants = [base + timedelta(minutes=30 * i) for i in range(20)]
    feat = spark.createDataFrame(
        [
            (rng.randint(1, 4), rng.choice(instants),
             rng.choice(instants) + timedelta(seconds=i), float(i))
            for i in range(80)
        ],
        "k bigint, event_timestamp timestamp, created timestamp, v double",
    )
    spine_rows = list(dict.fromkeys(
        (rng.randint(1, 5), rng.choice(instants)) for _ in range(40)
    ))
    spine = spark.createDataFrame(spine_rows, "k bigint, event_timestamp timestamp")
    view = FeatureViewSpec("fv", feat, ["k"], ["v"], "event_timestamp",
                           created_timestamp_column="created", ttl_seconds=ttl)

    lo, hi, _ = __import__(
        "feast_ibm_spark.operators.pit_join", fromlist=["_spine_time_range"]
    )._spine_time_range(spine, "event_timestamp")
    salted = _join_one_view_union_window_salted(
        spine, view, "event_timestamp", False, lo, hi,
        salt_bucket_seconds=3600,  # 10+ buckets over the data span
    )
    expected = point_in_time_join(spine, [view], strategy="broadcast")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_merge_changes_cdc_semantics(spark):
    """CDC merge: newer upserts replace, deletes remove the key, change
    rows beat snapshot rows on timestamp ties, untouched keys survive,
    and a raw-history snapshot is deduped by recency."""
    from datetime import datetime as TS

    from feast_ibm_spark.operators.merge import merge_changes

    snapshot = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1), 1.0, 10),
            (1, TS(2024, 1, 3), 1.5, 11),  # history: recency dedup keeps this
            (2, TS(2024, 1, 2), 2.0, 12),
            (3, TS(2024, 1, 2), 3.0, 13),
            (4, TS(2024, 1, 2), 4.0, 14),  # tie with change row below
        ],
        "k bigint, ts timestamp, v double, rid bigint",
    )
    changes = spark.createDataFrame(
        [
            (2, TS(2024, 1, 5), 2.5, 20, "upsert"),   # replaces k=2
            (3, TS(2024, 1, 6), 0.0, 21, "delete"),   # removes k=3
            (4, TS(2024, 1, 2), 4.5, 22, "upsert"),   # same ts: change wins
            (5, TS(2024, 1, 7), 5.0, 23, "upsert"),   # brand-new key
            (5, TS(2024, 1, 7), 5.5, 24, "upsert"),   # same key+ts: rid wins
        ],
        "k bigint, ts timestamp, v double, rid bigint, op string",
    )
    got = {
        r.k: (r.v, r.rid)
        for r in merge_changes(
            snapshot, changes, ["k"], "ts", tiebreak_cols=["rid"]
        ).collect()
    }
    assert got == {1: (1.5, 11), 2: (2.5, 20), 4: (4.5, 22), 5: (5.5, 24)}


def test_merge_changes_rejects_op_collision(spark):
    import pytest as _pytest

    from feast_ibm_spark.operators.merge import merge_changes

    df = spark.createDataFrame([(1, "x")], "k bigint, op string")
    with _pytest.raises(ValueError, match="op column"):
        merge_changes(df, df, ["k"], "op")


def test_merge_changes_rejects_helper_column_collision(spark):
    """Inputs already carrying __src/__rn would silently collide with the
    operator's internal helper columns — refuse them up front."""
    from datetime import datetime as TS

    import pytest as _pytest

    from feast_ibm_spark.operators.merge import merge_changes

    snap = spark.createDataFrame(
        [(1, TS(2024, 1, 1), 0)], "k bigint, ts timestamp, __src int"
    )
    chg = snap.withColumn("op", F.lit("upsert"))
    with _pytest.raises(ValueError, match="__src"):
        merge_changes(snap, chg, ["k"], "ts")

    snap2 = spark.createDataFrame(
        [(1, TS(2024, 1, 1), 0)], "k bigint, ts timestamp, __rn int"
    )
    chg2 = snap2.withColumn("op", F.lit("upsert"))
    with _pytest.raises(ValueError, match="__rn"):
        merge_changes(snap2, chg2, ["k"], "ts")


def test_merge_changes_rejects_unknown_op_values(spark):
    """Change rows with op outside {upsert, delete} must fail loudly at
    execution, not silently behave as upserts."""
    from datetime import datetime as TS

    import pytest as _pytest
    from pyspark.errors import SparkRuntimeException

    from feast_ibm_spark.operators.merge import merge_changes

    snap = spark.createDataFrame(
        [(1, TS(2024, 1, 1), 1.0)], "k bigint, ts timestamp, v double"
    )
    chg = spark.createDataFrame(
        [(1, TS(2024, 1, 2), 2.0, "UPSERT")],  # wrong case = malformed
        "k bigint, ts timestamp, v double, op string",
    )
    with _pytest.raises(SparkRuntimeException, match="merge_changes"):
        merge_changes(snap, chg, ["k"], "ts").collect()


def test_incremental_agg_crash_recovery(spark, tmp_path):
    """The commit protocol's dangerous window: state renamed into place
    but ledger append crashed. Recovery must resolve the OLD state and a
    retry must not double-count."""
    from feast_ibm_spark.operators.incremental import (
        _STATE_PREFIX,
        read_agg,
        refresh_additive_agg,
    )

    base = str(tmp_path / "aggstate")
    df1 = spark.createDataFrame([(1, 100), (2, 200)], "k bigint, c bigint")
    df2 = spark.createDataFrame([(1, 50)], "k bigint, c bigint")
    assert refresh_additive_agg(spark, base, df1, ["k"], F.col("c"), "r1")

    # simulate the crash window: r2's state dir renamed into place but the
    # ledger append never happened (the dir content mimics a half-applied
    # merge — even a WRONG one, to prove the retry ignores it)
    import os

    r2_dir = os.path.join(base, _STATE_PREFIX + "r2")
    spark.createDataFrame(
        [(1, 999, 99900, 99900, 99900)],
        "k bigint, n bigint, sum_cents bigint, min_cents bigint, max_cents bigint",
    ).write.mode("overwrite").parquet(r2_dir)
    assert os.path.exists(r2_dir)  # uncommitted leftover present

    # retry: must recompute from r1's state (not the uncommitted r2 dir)
    assert refresh_additive_agg(spark, base, df2, ["k"], F.col("c"), "r2")
    got = {r.k: (r.n, r.sum_value) for r in read_agg(spark, base).collect()}
    assert got == {1: (2, 1.5), 2: (1, 2.0)}  # no double count of df2


def test_quality_checks_fire_on_dirty_data(spark):
    """The gate query runs on clean data (all zeros); here every check
    must actually FIRE: nulls, duplicate keys, range violations, and
    orphaned foreign keys each counted correctly."""
    from feast_ibm_spark.operators.quality import (
        check_in_range,
        check_not_null,
        check_references,
        check_unique,
        run_checks,
    )

    rows = spark.createDataFrame(
        [
            (1, 1, 0.5, 10),   # clean
            (1, 1, 1.5, 10),   # dup key + range violation
            (None, 2, 0.2, 99),  # null fk + orphan dim (99 not in dim)
            (2, 3, None, 10),  # null value col
        ],
        "fk bigint, seq bigint, frac double, dim_id bigint",
    )
    dim = spark.createDataFrame([(10,), (11,)], "d bigint")
    report = {
        r.check: r.n_violations
        for r in run_checks(
            check_not_null(rows, ["fk", "frac"]),
            check_unique(rows, ["fk", "seq"]),
            check_in_range(rows, "frac", lo=0.0, hi=1.0),
            check_references(rows, ["dim_id"], dim, ["d"]),
        ).collect()
    }
    assert report == {
        "not_null:fk": 1,
        "not_null:frac": 1,
        "unique:fk,seq": 2,   # both colliding rows counted
        "range:frac": 1,
        "fk:dim_id": 1,       # the 99 orphan; NULL fk not counted here
    }


def test_quality_checks_zero_not_null_on_empty_input(spark):
    """A publish gate on max(n_violations) == 0 must see 0, never NULL,
    when the table is empty (F.sum over zero rows is NULL unless
    coalesced — round-5 advice fix)."""
    from feast_ibm_spark.operators.quality import (
        check_in_range,
        check_not_null,
        check_unique,
    )

    empty = spark.createDataFrame([], "fk bigint, frac double")
    for checked in (
        check_not_null(empty, ["fk", "frac"]),
        check_unique(empty, ["fk"]),
        check_in_range(empty, "frac", lo=0.0, hi=1.0),
    ):
        for r in checked.collect():
            assert r.n_violations == 0, r


def test_incremental_ledger_read_errors_propagate(spark, tmp_path):
    """Only a MISSING ledger reads as empty; a corrupt/unreadable ledger
    must raise, not silently reset accumulated state (round-5 advice
    fix), and committed seq values stay unique and monotonic."""
    import os

    import pytest as _pytest

    from feast_ibm_spark.operators.incremental import (
        _LEDGER,
        _ledger_rows,
        refresh_additive_agg,
    )

    base = str(tmp_path / "aggstate2")
    df1 = spark.createDataFrame([(1, 100)], "k bigint, c bigint")
    df2 = spark.createDataFrame([(2, 200)], "k bigint, c bigint")
    assert refresh_additive_agg(spark, base, df1, ["k"], F.col("c"), "r1")
    assert refresh_additive_agg(spark, base, df2, ["k"], F.col("c"), "r2")
    seqs = [r["seq"] for r in _ledger_rows(spark, base)]
    assert seqs == [0, 1]

    # corrupt the ledger: a garbage file where parquet footers should be
    ledger_dir = os.path.join(base, _LEDGER)
    for f in os.listdir(ledger_dir):
        if f.endswith(".parquet"):
            with open(os.path.join(ledger_dir, f), "wb") as fh:
                fh.write(b"not a parquet file")
    df3 = spark.createDataFrame([(3, 300)], "k bigint, c bigint")
    with _pytest.raises(Exception):
        refresh_additive_agg(spark, base, df3, ["k"], F.col("c"), "r3")
    # and no r3 state dir was committed by the failed attempt
    assert not any("r3" in d for d in os.listdir(base))


if _HAS_HYPOTHESIS:

    @given(
        snap=st.lists(
            st.tuples(st.integers(1, 4), st.integers(0, 20)),  # key, hour
            min_size=0, max_size=12,
        ),
        changes=st.lists(
            st.tuples(
                st.integers(1, 5),            # key (may be brand-new)
                st.integers(0, 20),           # hour
                st.booleans(),                # is_delete
            ),
            min_size=0, max_size=12,
        ),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_merge_changes_property_matches_brute_force(spark, snap, changes):
        """CDC merge vs a brute-force per-key replay: winner = max
        (ts, src, rid); delete-winners vanish; history snapshots dedupe."""
        from feast_ibm_spark.operators.merge import merge_changes

        base = TS(2024, 1, 1)
        snap_rows = [
            (k, base + timedelta(hours=h), float(i), i)
            for i, (k, h) in enumerate(snap)
        ]
        chg_rows = [
            (k, base + timedelta(hours=h), float(100 + i), 100 + i,
             "delete" if is_del else "upsert")
            for i, (k, h, is_del) in enumerate(changes)
        ]

        # brute force: order all rows per key by (ts, src, rid)
        best = {}
        for k, ts, v, rid in snap_rows:
            cand = (ts, 0, rid, v, "upsert")
            if k not in best or cand[:3] > best[k][:3]:
                best[k] = cand
        for k, ts, v, rid, op in chg_rows:
            cand = (ts, 1, rid, v, op)
            if k not in best or cand[:3] > best[k][:3]:
                best[k] = cand
        expected = {
            k: (t[0], t[3], t[2]) for k, t in best.items() if t[4] != "delete"
        }

        snap_df = spark.createDataFrame(
            snap_rows or [(None, None, None, None)],
            "k bigint, ts timestamp, v double, rid bigint",
        ).filter(F.col("k").isNotNull())
        chg_df = spark.createDataFrame(
            chg_rows or [(None, None, None, None, None)],
            "k bigint, ts timestamp, v double, rid bigint, op string",
        ).filter(F.col("k").isNotNull())
        got = {
            r.k: (r.ts, r.v, r.rid)
            for r in merge_changes(
                snap_df, chg_df, ["k"], "ts", tiebreak_cols=["rid"]
            ).collect()
        }
        assert got == expected


if _HAS_HYPOTHESIS:

    @given(
        rows=st.lists(
            st.tuples(
                st.integers(1, 4),                       # key
                st.integers(0, 30),                      # hour (order)
                st.one_of(st.none(), st.integers(0, 9)), # attr a (sparse)
                st.one_of(st.none(), st.integers(0, 9)), # attr b (sparse)
            ),
            min_size=0, max_size=16,
        ),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_survivorship_property_matches_brute_force(spark, rows):
        """Golden-record merge vs per-key brute force: each attribute
        independently takes the value of the LAST row (by (ts, rid))
        where it is non-null; n_sources counts all contributing rows."""
        from feast_ibm_spark.operators.merge import survivorship_merge

        base = TS(2024, 1, 1)
        data = [
            (k, base + timedelta(hours=h), i,
             float(a) if a is not None else None,
             float(b) if b is not None else None)
            for i, (k, h, a, b) in enumerate(rows)
        ]

        expected = {}
        for k, ts, rid, a, b in sorted(data, key=lambda r: (r[1], r[2])):
            prev = expected.get(k, (None, None, 0))
            expected[k] = (
                a if a is not None else prev[0],
                b if b is not None else prev[1],
                prev[2] + 1,
            )

        df = spark.createDataFrame(
            data or [(None, None, None, None, None)],
            "k bigint, ts timestamp, rid bigint, a double, b double",
        ).filter(F.col("k").isNotNull())
        got = {
            r.k: (r.a, r.b, r.n_sources)
            for r in survivorship_merge(
                df, ["k"], ["ts", "rid"], ["a", "b"]
            ).collect()
        }
        assert got == expected

    @given(
        docs=st.lists(
            st.lists(st.integers(0, 6), min_size=0, max_size=10),
            min_size=0, max_size=6,
        ),
        thr=st.sampled_from([0.5, 0.8, 1.0]),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_containment_property_matches_brute_force(spark, docs, thr):
        """Containment pairs vs per-pair set arithmetic over 1-gram
        shingle sets (n=1 keeps the brute force trivial): every ordered
        pair with |A n B|/|A| >= thr, both directions, exact score."""
        from feast_ibm_spark.operators.dedup import ngram_containment_pairs

        texts = [" ".join(f"w{t}" for t in toks) for toks in docs]
        # a blank doc tokenizes to the single EMPTY token in both engines
        # (documented on shingles_col) — model it, don't exclude it:
        # hypothesis found that two blank docs pair at containment 1.0,
        # exactly like exact_dedup grouping identical (empty) content
        sets = {i: (set(toks) if toks else {""})
                for i, toks in enumerate(docs)}
        expected = {}
        for i, A in sets.items():
            for j, B in sets.items():
                if i == j:
                    continue
                common = len(A & B)
                if common * 1000 >= int(round(thr * 1000)) * len(A):
                    expected[(i, j)] = common / len(A)

        df = spark.createDataFrame(
            list(enumerate(texts)) or [(None, None)],
            "doc_id bigint, text string",
        ).filter(F.col("doc_id").isNotNull())
        got = {
            (r.doc_id, r.container_id): r.containment
            for r in ngram_containment_pairs(df, n=1, threshold=thr).collect()
        }
        assert got == expected


if _HAS_HYPOTHESIS:

    @given(
        n_frames=st.integers(1, 4),
        h=st.integers(1, 12),
        w=st.integers(1, 12),
        seed=st.integers(0, 2**31 - 1),
        mode=st.sampled_from(["random", "constant", "tiled"]),
    )
    @settings(max_examples=25, deadline=None)
    def test_gif_lzw_roundtrip_property(n_frames, h, w, seed, mode):
        """The hand-written GIF/LZW pair must round-trip ANY frame
        content — random bytes (incompressible), constant frames
        (maximal LZW runs), and small tiles (dictionary reuse) — across
        arbitrary small geometries. Pure codec property, no Spark."""
        import numpy as np

        from feast_ibm_spark.functions.codecs import gif_decode, gif_encode

        rng = np.random.RandomState(seed)
        if mode == "random":
            frames = rng.randint(0, 256, (n_frames, h, w), dtype=np.uint8)
        elif mode == "constant":
            frames = np.full((n_frames, h, w), seed % 256, dtype=np.uint8)
        else:
            tile = rng.randint(0, 256, (2, 2), dtype=np.uint8)
            frames = np.tile(tile, (n_frames, (h + 1) // 2, (w + 1) // 2))[
                :, :h, :w
            ].copy()
        enc = gif_encode(frames)
        dec = gif_decode(enc)
        assert dec.shape == frames.shape
        assert (dec == frames).all()


def test_deletion_vector_lifecycle(spark, tmp_path):
    """DV mechanics on a multi-file table: positions are per-file (two
    files can both have row_index 0 — only the right one vanishes), the
    read path drops exactly the addressed rows, and an empty vector is
    the identity."""
    from pyspark.sql import functions as F

    from feast_ibm_spark.operators.deletion_vectors import (
        build_deletion_vector,
        read_with_deletion_vector,
    )

    d = str(tmp_path / "t")
    a = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    b = spark.createDataFrame([(3, "c"), (4, "d")], "id bigint, v string")
    a.coalesce(1).write.parquet(d + "/p1")
    b.coalesce(1).write.parquet(d + "/p2")
    df = spark.read.parquet(d + "/p1", d + "/p2")

    dv = build_deletion_vector(df, F.col("id") == 3)
    assert dv.count() == 1  # one addressed row, in one file
    visible = {r.id for r in read_with_deletion_vector(df, dv).collect()}
    assert visible == {1, 2, 4}  # id=1 (row 0 of the OTHER file) survives

    empty = build_deletion_vector(df, F.lit(False))
    assert {r.id for r in read_with_deletion_vector(df, empty).collect()} \
        == {1, 2, 3, 4}


def test_pit_salted_melt_ntz_is_monotone_across_dst_gap(spark):
    """Round-7 review fix: with NTZ timestamps and a DST session zone,
    a session-zone cast files the nonexistent wall time 02:30 (inside
    the America/New_York 2024-03-10 spring-forward gap) AFTER 03:05 in
    epoch order, putting the feature row in a LATER bucket than the
    spine row — invisible to both the within-bucket window and the
    carry pass. The zone-free wall-clock decomposition keeps bucketing
    monotone: the salted melt must match the plain melt exactly."""
    from feast_ibm_spark.operators.pit_join import (
        _join_one_view_union_window_salted,
        _spine_time_range,
    )

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        feat = spark.createDataFrame(
            [(1, "2024-03-10 02:30:00", 42.0),
             (1, "2024-03-09 23:00:00", 1.0),
             (2, "2024-03-10 01:00:00", 7.0)],
            "k bigint, s string, v double",
        ).select("k", F.to_timestamp_ntz("s").alias("event_timestamp"), "v")
        spine = spark.createDataFrame(
            [(1, "2024-03-10 03:05:00"), (2, "2024-03-10 03:05:00")],
            "k bigint, s string",
        ).select("k", F.to_timestamp_ntz("s").alias("event_timestamp"))
        view = FeatureViewSpec("fv", feat, ["k"], ["v"], "event_timestamp")

        lo, hi, _ = _spine_time_range(spine, "event_timestamp")
        salted = _join_one_view_union_window_salted(
            spine, view, "event_timestamp", False, lo, hi,
            salt_bucket_seconds=900,  # buckets small enough to split the gap
        )
        got = {(r.k, r.v) for r in salted.collect()}
        # the 02:30 feature (42.0) precedes the 03:05 spine row in NTZ
        # order and MUST be the as-of match for k=1
        assert got == {(1, 42.0), (2, 7.0)}

        plain = point_in_time_join(spine, [view], strategy="union_window")
        assert sorted(map(tuple, salted.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_sessionize_fractional_gap_is_exact_to_microseconds(spark):
    """gap_seconds may be fractional (review regression: an int() cast
    truncated 0.5 to INTERVAL 0 SECOND and split everything): events
    0.4s apart under gap=0.5 share a session; 0.6s apart do not."""
    from feast_ibm_spark.operators.sessionize import sessionize

    df = spark.createDataFrame(
        [(1, 0, "2024-01-01 00:00:00"),
         (1, 1, "2024-01-01 00:00:00.4"),
         (1, 2, "2024-01-01 00:00:01")],
        "k bigint, eid bigint, s string",
    ).select("k", "eid", F.to_timestamp("s").alias("ts"))
    out = sorted(
        (r.session_id, r.n_events)
        for r in sessionize(df, ["k"], "ts", gap_seconds=0.5,
                            tiebreak_cols=["eid"]).collect()
    )
    assert out == [(1, 2), (2, 1)]


if _HAS_HYPOTHESIS:

    @given(
        rows=st.lists(
            st.tuples(st.integers(1, 2), st.integers(0, 48)),
            min_size=1,
            max_size=20,
        ),
        keep_ties=st.booleans(),
    )
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_latest_per_key_property_matches_brute_force(
        spark, rows, keep_ties
    ):
        """Random event sets (duplicate (key, ts) pairs allowed — that is
        the tie case) vs a Python reference of the documented semantics:
        inclusive [start, end] bounds; default mode picks the single max
        (ts, created) row; keep_ties reproduces the reference's
        multiple-rows-on-ties behavior (every row tied on max ts)."""
        from feast_ibm_spark.operators.pull_latest import latest_per_key

        base = TS(2024, 1, 1)
        data = [
            (k, base + timedelta(hours=h), base + timedelta(seconds=i),
             float(i))
            for i, (k, h) in enumerate(rows)
        ]
        df = spark.createDataFrame(
            data, "k bigint, ts timestamp, created timestamp, v double"
        )
        lo, hi = base + timedelta(hours=6), base + timedelta(hours=42)

        eligible = [r for r in data if lo <= r[1] <= hi]
        want = set()
        for k in {r[0] for r in eligible}:
            mine = [r for r in eligible if r[0] == k]
            max_ts = max(r[1] for r in mine)
            tied = [r for r in mine if r[1] == max_ts]
            if keep_ties:
                want |= set(tied)
            else:
                want.add(max(tied, key=lambda r: r[2]))

        got = {
            (r["k"], r["ts"], r["created"], r["v"])
            for r in latest_per_key(
                df, ["k"], ["v"], "ts",
                created_timestamp_column="created",
                start_date=lo, end_date=hi,
                keep_ties=keep_ties,
            ).collect()
        }
        assert got == want
