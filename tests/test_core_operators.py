"""Semantic tests for the three reference retrieval shapes.

The reference only golden-tests generated SQL strings (it cannot execute);
we execute and assert results — including the reference's canonical
``driver_stats`` scenario (reference ``tests/test_integration.py:183-196``)
computed from raw inputs, which the mocked reference test never actually
did."""

from collections import Counter
from datetime import datetime, timedelta, timezone

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
    out = point_in_time_join(spine, [view], **_strategy_kwargs(strategy)).orderBy(
        "driver_id")
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
    out = point_in_time_join(spine, [view], **_strategy_kwargs(strategy))
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
    for strategy in ("range_join", "union_window"):
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


def test_pit_join_rejects_output_name_collisions(spark):
    """Two views emitting the same output name, or a view emitting a spine
    column's name, raise (Feast's FeatureNameCollisionError) instead of
    returning duplicate columns; full feature names disambiguate."""
    spine, view = _driver_stats(spark)
    twin = FeatureViewSpec("twin", view.source, ["driver_id"], ["conv_rate"],
                           "event_timestamp")
    with pytest.raises(ValueError, match=r"\['conv_rate'\]"):
        point_in_time_join(spine, [view, twin])
    labels = view.source.withColumnRenamed(
        "acc_rate", "label_driver_reported_satisfaction")
    label_view = FeatureViewSpec("labels", labels, ["driver_id"],
                                 ["label_driver_reported_satisfaction"],
                                 "event_timestamp")
    with pytest.raises(ValueError, match="label_driver_reported_satisfaction"):
        point_in_time_join(spine, [label_view], strategy="range_join")

    out = point_in_time_join(spine, [view, twin], full_feature_names=True)
    assert out.columns[-4:] == [
        "driver_hourly_stats__conv_rate", "driver_hourly_stats__acc_rate",
        "driver_hourly_stats__avg_daily_trips", "twin__conv_rate",
    ]


def _brute_force_pit(spine_rows, feat_rows, ttl):
    """Per-row oracle (FIXTURES.md §6). A NULL key (or key part) or a
    NULL spine timestamp matches nothing, as SQL equality does."""

    def null(k):
        return k is None or (isinstance(k, tuple) and None in k)

    out = {}
    for k, sts in spine_rows:
        best = None
        for fk, fts, created, v in feat_rows:
            if null(k) or sts is None or null(fk) or fk != k or fts > sts:
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
# strategy="range_join" down each side of its spine-row gate
_RANGE_JOIN_SIDES = {
    "broadcast": {},
    "shuffle": {"auto_broadcast_rows": 0},
}


def _strategy_kwargs(name: str) -> dict:
    """``point_in_time_join`` keyword arguments of a parametrized strategy
    name: a range-join side, an ``auto`` branch, or a strategy as is."""
    if name in _RANGE_JOIN_SIDES:
        return {"strategy": "range_join", **_RANGE_JOIN_SIDES[name]}
    if name in _AUTO_BRANCHES:
        return {"strategy": "auto", **_AUTO_BRANCHES[name]}
    return {"strategy": name}


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
    # a NULL-key feature row at every instant
    feat_rows += [(None, t, t, -float(i)) for i, t in enumerate(instants)]
    spine_rows = [(rng.randint(1, 6), rng.choice(instants)) for _ in range(40)]
    spine_rows = list(dict.fromkeys(spine_rows))
    spine_rows += [(None, instants[9]), (3, None), (None, None)]
    # pass-through columns named like the melt's internals, an array
    # column, and exact duplicate rows, each of which must survive
    full = [
        (k, ts, f"s{i}", i % 3, float(i), [i, -i])
        for i, (k, ts) in enumerate(spine_rows)
    ]
    full += full[:2] + full[-2:]

    feat = spark.createDataFrame(
        feat_rows, "k bigint, event_timestamp timestamp, created timestamp, v double"
    )
    # an int spine key against bigint feature keys: the melt's union
    # widens it, and the output still carries the spine's own type
    spine = spark.createDataFrame(
        full,
        "k int, event_timestamp timestamp, __ts string, __tag int, "
        "__p0 double, tags array<bigint>",
    )
    view = FeatureViewSpec("fv", feat, ["k"], ["v"], "event_timestamp",
                           created_timestamp_column="created", ttl_seconds=ttl)
    out = point_in_time_join(spine, [view], **_strategy_kwargs(strategy))
    assert out.schema[:6] == spine.schema
    assert out.columns == [*spine.columns, "v"]
    got = Counter((*r[:5], tuple(r[5]), r[6]) for r in out.collect())
    expected = _brute_force_pit(spine_rows, feat_rows, ttl)
    assert got == Counter(
        (*r[:5], tuple(r[5]), expected[r[:2]]) for r in full
    )


@pytest.mark.parametrize(
    "strategy", ["union_window", *_AUTO_BRANCHES, "broadcast", "shuffle"]
)
def test_pit_join_multiview_randomized_against_brute_force(spark, tmp_path, strategy):
    """Five views in one join: two over the same feature table loaded twice
    (TTL 0 and 3600, overlapping features: one shared melt arm), a
    composite-key view between them (a second key set), a second source on
    the first key set with a ``field_mapping`` (a second arm), and a
    composite-key view with TTL 7200 (sharing an arm with TTL 3600). Spine
    timestamps start after the feature history does, so a prefilter
    narrower than an arm's widest TTL loses matches. Every view must match
    its own brute-force as-of join, in view order."""
    import random

    rng = random.Random(11)
    base = TS(2024, 1, 1)
    instants = [base + timedelta(minutes=30 * i) for i in range(20)]

    def created(i):
        return rng.choice(instants) + timedelta(seconds=i)

    # ~10 rows per key over 20 instants: matches often lie hours back
    shared_rows = [
        (rng.randint(1, 12), rng.randint(1, 2), rng.choice(instants), created(i),
         float(i), f"w{i}")
        for i in range(120)
    ]
    mapped_rows = [
        (rng.randint(1, 12), rng.choice(instants), created(i), 1000.0 + i)
        for i in range(80)
    ]
    spine_rows = list(dict.fromkeys(
        (rng.randint(1, 13), rng.randint(1, 2), rng.choice(instants[6:]))
        for _ in range(40)
    ))
    # Spine starts at instants[6]. Key 20's only row (3 h earlier) matches
    # only the TTL-0 view; key 21's (1.5 h earlier) only the 7200 s view.
    # A shared arm's prefilter narrower than its widest TTL drops them.
    shared_rows += [(20, 1, instants[0], created(120), -1.0, "old"),
                    (21, 1, instants[3], created(121), -2.0, "mid")]
    spine_rows += [(20, 1, instants[6]), (21, 1, instants[6])]
    # NULL key parts on both sides, a NULL spine timestamp and an exact
    # duplicate: under the melt strategies the first key set (k) rides
    # the melt and the second (k, r) joins back; every spine row survives
    shared_rows += [(None, 1, instants[8], created(122), -3.0, "nk"),
                    (5, None, instants[8], created(123), -4.0, "nr")]
    spine_rows += [(None, 1, instants[9]), (5, None, instants[9]),
                   (5, 1, None), spine_rows[0]]

    path = str(tmp_path / "shared")
    spark.createDataFrame(
        shared_rows,
        "k bigint, r bigint, event_timestamp timestamp, created timestamp, "
        "v double, w string",
    ).write.parquet(path)
    mapped = spark.createDataFrame(
        mapped_rows, "k bigint, t2 timestamp, created timestamp, x_raw double"
    )
    spine = spark.createDataFrame(
        spine_rows, "k bigint, r bigint, event_timestamp timestamp"
    )

    def shared_view(name, keys, features, ttl):
        return FeatureViewSpec(
            name, spark.read.parquet(path), keys, features, "event_timestamp",
            created_timestamp_column="created", ttl_seconds=ttl,
        )

    views = [
        shared_view("a", ["k"], ["v", "w"], 0),
        shared_view("c", ["k", "r"], ["v"], 3600),
        shared_view("b", ["k"], ["w"], 3600),
        FeatureViewSpec("d", mapped, ["k"], ["x"], "t2",
                        created_timestamp_column="created", ttl_seconds=1800,
                        field_mapping={"x_raw": "x"}),
        shared_view("e", ["k", "r"], ["w"], 7200),
    ]
    out = point_in_time_join(
        spine, views, full_feature_names=True, **_strategy_kwargs(strategy)
    )
    assert out.columns == [
        "k", "r", "event_timestamp", "a__v", "a__w", "c__v", "b__w", "d__x", "e__w"
    ]

    def brute(feat_rows, ttl, composite):
        def key(k, r):
            return (k, r) if composite else k

        return _brute_force_pit(
            [(key(k, r), ts) for k, r, ts in spine_rows],
            [(key(k, r), ts, cr, rest) for k, r, ts, cr, *rest in feat_rows],
            ttl,
        )

    shared_a = brute(shared_rows, 0, False)
    shared_c = brute(shared_rows, 3600, True)
    shared_b = brute(shared_rows, 3600, False)
    mapped_d = brute([(k, 0, ts, cr, x) for k, ts, cr, x in mapped_rows], 1800, False)
    shared_e = brute(shared_rows, 7200, True)
    rows = out.collect()
    assert len(rows) == len(spine_rows)
    for row in rows:
        k, r, ts = row.k, row.r, row.event_timestamp
        a, b, d = shared_a[(k, ts)], shared_b[(k, ts)], mapped_d[(k, ts)]
        c, e = shared_c[((k, r), ts)], shared_e[((k, r), ts)]
        assert (row.a__v, row.a__w) == (tuple(a) if a else (None, None))
        assert row.c__v == (c[0] if c else None)
        assert row.b__w == (b[1] if b else None)
        assert row.d__x == (d[0] if d else None)
        assert row.e__w == (e[1] if e else None)


@pytest.mark.parametrize(
    "strategy", ["broadcast", "shuffle", "union_window", "union_window_salted"]
)
def test_pit_join_strategies_on_ntz_timestamps(spark, strategy):
    """Every strategy must accept TIMESTAMP_NTZ sources (round-7
    regression: the salted melt's time-bucket expression used
    cast(ts as double), which is illegal on NTZ — found by the hot-spine
    bench, fixed by the zone-free wall-clock decomposition
    unix_date(to_date(c))*86400 + hour/minute/second in
    _salted_melt_winners; a session-zone TIMESTAMP cast
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
        for r in point_in_time_join(
            spine, [view], **_strategy_kwargs(strategy)).collect()
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
        strategy=st.sampled_from(["broadcast", "shuffle", "union_window"]),
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
                spine_df, [view], **_strategy_kwargs(strategy)
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


def _materialize_mat_src(spark, dest, start, end, mode="overwrite"):
    from feast_ibm_spark.sources.data_source import SparkDataSource
    from feast_ibm_spark.store import SparkOfflineStore

    return SparkOfflineStore.materialize(
        spark, SparkDataSource(table="mat_src"), ["k"], ["v"], "ts",
        "created", start, end, dest, mode=mode,
    )


def test_materialize_empty_increment_counts_zero(spark, tmp_path):
    """A window with no rows: the observed count is 0 (no hang waiting
    for a metric) and the destination reads back empty."""
    from datetime import datetime as TS

    spark.createDataFrame(
        [(1, TS(2024, 1, 1, 10), TS(2024, 1, 1, 10), 1.0)],
        "k bigint, ts timestamp, created timestamp, v double",
    ).createOrReplaceTempView("mat_src")
    dest = str(tmp_path / "empty_snapshot")
    assert _materialize_mat_src(spark, dest, TS(2025, 1, 1), TS(2025, 1, 31)) == 0
    assert spark.read.parquet(dest).count() == 0


def test_materialize_append_counts_this_increment_only(spark, tmp_path):
    """mode="append" into a non-empty destination returns only this
    increment's row count, while the directory holds both increments."""
    from datetime import datetime as TS

    spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 10), TS(2024, 1, 1, 10), 1.0),
            (2, TS(2024, 1, 1, 9), TS(2024, 1, 1, 9), 5.0),
            (3, TS(2024, 1, 2, 9), TS(2024, 1, 2, 9), 7.0),
        ],
        "k bigint, ts timestamp, created timestamp, v double",
    ).createOrReplaceTempView("mat_src")
    dest = str(tmp_path / "append_snapshot")
    assert _materialize_mat_src(spark, dest, TS(2024, 1, 1), TS(2024, 1, 1, 23)) == 2
    n = _materialize_mat_src(
        spark, dest, TS(2024, 1, 2), TS(2024, 1, 2, 23), mode="append"
    )
    assert n == 1
    assert spark.read.parquet(dest).count() == 3


def test_materialize_failed_write_raises_without_blocking(spark, tmp_path):
    """A write that raises (mode="error" into an existing destination)
    propagates its exception instead of waiting on the row-count metric.
    Run in a daemon thread with a bounded join so a hang fails the test
    rather than stalling the suite."""
    import threading
    from datetime import datetime as TS

    from pyspark.errors import AnalysisException

    spark.createDataFrame(
        [(1, TS(2024, 1, 1, 10), TS(2024, 1, 1, 10), 1.0)],
        "k bigint, ts timestamp, created timestamp, v double",
    ).createOrReplaceTempView("mat_src")
    dest = str(tmp_path / "existing_snapshot")
    assert _materialize_mat_src(spark, dest, TS(2024, 1, 1), TS(2024, 1, 31)) == 1

    outcome = {}

    def run():
        try:
            outcome["n"] = _materialize_mat_src(
                spark, dest, TS(2024, 1, 1), TS(2024, 1, 31), mode="error"
            )
        except Exception as e:
            outcome["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(60)
    assert not t.is_alive(), "materialize blocked after a failed write"
    assert "n" not in outcome
    assert isinstance(outcome["error"], AnalysisException)
    assert spark.read.parquet(dest).count() == 1


def test_materialize_runs_two_jobs_and_caches_nothing(spark, tmp_path):
    """One materialize increment is two Spark jobs: the latest-per-key
    shuffle map stage and the write, which also carries the row count. No
    re-read of the output counts it and nothing is left in the cache."""
    from datetime import datetime as TS

    from feast_ibm_spark.sources.data_source import SparkDataSource
    from feast_ibm_spark.store import SparkOfflineStore

    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 10), 1.0),
            (1, TS(2024, 1, 2, 10), 2.0),
            (2, TS(2024, 1, 1, 9), 5.0),
        ],
        "k bigint, ts timestamp, v double",
    ).write.parquet(src)
    dest = str(tmp_path / "snapshot")
    sc = spark.sparkContext
    try:
        for i in range(3):
            group = f"test_materialize_job_count_{i}"
            sc.setJobGroup(group, "materialize job count")
            n = SparkOfflineStore.materialize(
                spark, SparkDataSource(path=src, timestamp_field="ts"), ["k"],
                ["v"], "ts", None, TS(2024, 1, 1), TS(2024, 1, 31), dest,
            )
            assert n == 2
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


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
        for r in point_in_time_join(
            spine, [view], **_strategy_kwargs(strategy)).collect()
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
        _salted_melt_winners,
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

    from feast_ibm_spark.operators.pit_join import SpineFacts

    facts = SpineFacts(spine, "event_timestamp")
    lo, hi = facts.lo, facts.hi
    salted = _salted_melt_winners(
        spine, view, "event_timestamp", False, lo, hi,
        salt_bucket_seconds=3600,  # 10+ buckets over the data span
    )
    expected = point_in_time_join(spine, [view], strategy="range_join")
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
        SpineFacts,
        _salted_melt_winners,
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

        facts = SpineFacts(spine, "event_timestamp")
        lo, hi = facts.lo, facts.hi
        salted = _salted_melt_winners(
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


# --- spine facts from the pandas frame ---------------------------------------


def _spine_fact_cases():
    import numpy as np
    import pandas as pd

    base = pd.to_datetime(
        ["2024-01-03 10:00:00", "2024-01-01 08:30:00", "2024-01-02 23:59:59.5"],
        format="ISO8601",
    )
    return {
        "naive": pd.DataFrame({"user_id": [1, 2, 1], "event_timestamp": base}),
        "aware_non_utc": pd.DataFrame(
            {
                "user_id": [1, 2, 1],
                "event_timestamp": base.tz_localize("America/New_York"),
            }
        ),
        "object_offsets": pd.DataFrame(
            {
                "user_id": [1, 2, 1],
                "event_timestamp": [
                    "2024-01-03T10:00:00.000000+02:00",
                    "2024-01-01T08:30:00.000000-05:00",
                    "2024-01-02T23:59:59.500000+00:00",
                ],
            }
        ),
        "nat_rows": pd.DataFrame(
            {"user_id": [1, 2, 3], "event_timestamp": [base[0], pd.NaT, base[2]]}
        ),
        "duplicate_key_ts": pd.DataFrame(
            {
                "user_id": [1, 1, 1, 2],
                "event_timestamp": [base[0], base[0], base[1], base[0]],
                "label": [0.1, 0.2, 0.3, 0.4],
            }
        ),
        "sub_micros": pd.DataFrame(
            {
                "user_id": [1, 2, 1],
                "event_timestamp": pd.to_datetime(
                    [
                        "2024-01-01 00:00:00.000001999",
                        "2024-01-02 00:00:00.000000001",
                        "2024-01-01 00:00:00.000001001",
                    ]
                ),
            }
        ),
        "null_keys": pd.DataFrame(
            {
                "user_id": np.array([1.0, np.nan, np.nan, 2.0]),
                "event_timestamp": [base[0], base[1], base[1], base[2]],
            }
        ),
        # the minimum a day after New York's spring-forward change, the
        # maximum in its repeated hour (06:30 UTC is the second 01:30)
        "dst": pd.DataFrame(
            {
                "user_id": [1, 2],
                "event_timestamp": pd.to_datetime(
                    ["2024-03-10 16:00:00", "2024-11-03 06:30:00"]
                ),
            }
        ),
    }


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_pandas_spine_facts_match_spark_probe(spark, new_york_driver):
    """For every pandas spine shape, the facts ``_ensure_spine`` computes
    in pandas equal the Spark-probed facts of the spine it built: range,
    row count, hot-key max, and the distinct rows and types of every
    column set the builders ask for. The driver is in New York, so the
    probe reads back naive driver-zone datetimes, folds included."""
    from feast_ibm_spark.operators.pit_join import SpineFacts
    from feast_ibm_spark.store import _PandasSpineFacts, _ensure_spine

    for name, pdf in _spine_fact_cases().items():
        spine, facts = _ensure_spine(spark, pdf)
        assert isinstance(facts, _PandasSpineFacts), name
        probed = SpineFacts(spine, "event_timestamp")
        assert (facts.lo, facts.hi, facts.n_rows) == (
            probed.lo, probed.hi, probed.n_rows
        ), name
        assert facts.hot_key_max(["user_id"]) == probed.hot_key_max(["user_id"]), name
        for cols in (["user_id"], ["user_id", "event_timestamp"]):
            ours, theirs = facts.distinct(cols), probed.distinct(cols)
            assert ours.schema == theirs.schema, name
            assert _sorted_rows(ours) == _sorted_rows(theirs), name


def test_pandas_spine_matches_spark_spine_and_runs_no_preamble_job(
    spark, new_york_driver
):
    """``get_historical_features`` gives hash-identical results for a
    pandas spine and for the same spine passed as a Spark DataFrame; for
    the pandas spine, building the job, reading its metadata and planning
    the join run no Spark job. ``min_event_timestamp`` is the aware UTC
    minimum ``pd.to_datetime(utc=True)`` gives (floored to µs), and the
    ``dst`` spine's 1-day TTL reaches back 24 h of instants across New
    York's spring-forward change, with the driver in New York."""
    import hashlib
    import uuid

    import pandas as pd

    from feast_ibm_spark.store import SparkOfflineStore, _ensure_spine

    utc = timezone.utc
    feats = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 0, tzinfo=utc), 1.0),
            (1, TS(2024, 1, 2, 12, tzinfo=utc), 2.0),
            (2, TS(2024, 1, 1, 6, tzinfo=utc), 3.0),
            (2, TS(2024, 1, 3, 9, tzinfo=utc), 4.0),
            (1, TS(2024, 3, 9, 16, 30, tzinfo=utc), 5.0),
            (2, TS(2024, 11, 3, 6, 10, tzinfo=utc), 6.0),
        ],
        "user_id bigint, ts timestamp, value double",
    )
    views = [
        FeatureViewSpec("v", feats, ["user_id"], ["value"], "ts"),
        FeatureViewSpec(
            "ttl", feats, ["user_id"], ["value"], "ts", ttl_seconds=86400
        ),
    ]
    sc = spark.sparkContext
    for name, pdf in _spine_fact_cases().items():
        group = f"fis_spine_facts_{uuid.uuid4().hex}"
        sc.setJobGroup(group, "pandas spine preamble")
        try:
            job = SparkOfflineStore.get_historical_features(
                spark, pdf, views, full_feature_names=True
            )
            lo = job.metadata.min_event_timestamp
            out = job.to_spark_df()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        want = pd.to_datetime(
            pdf["event_timestamp"], utc=True, format="ISO8601"
        ).min().floor("us")
        assert lo.utcoffset() == timedelta(0) and lo == want, (name, lo)
        if name == "dst":
            got = {(r.user_id, r.v__value, r.ttl__value) for r in out.collect()}
            assert got == {(1, 5.0, 5.0), (2, 6.0, 6.0)}, got
        spark_spine, _ = _ensure_spine(spark, pdf)
        twin = SparkOfflineStore.get_historical_features(
            spark, spark_spine, views, full_feature_names=True
        )
        assert lo == twin.metadata.min_event_timestamp, name

        def digest(df):
            return hashlib.sha256(repr(_sorted_rows(df)).encode()).hexdigest()

        assert digest(out) == digest(twin.to_spark_df()), name


def test_ensure_spine_parses_mixed_shape_iso_strings(spark):
    """An object-dtype spine timestamp column whose ISO strings differ in
    shape (offset vs none, fraction vs none, date only) parses element
    by element, each to its UTC instant."""
    import pandas as pd

    from feast_ibm_spark.store import _ensure_spine

    cases = {
        ("2024-01-03T10:00:00+02:00", "2024-01-02T23:59:59.500000+00:00"): [
            "2024-01-03 08:00:00", "2024-01-02 23:59:59.500000"],
        ("2024-01-01 00:00:00.5", "2024-01-02"): [
            "2024-01-01 00:00:00.500000", "2024-01-02 00:00:00"],
    }
    for strings, want in cases.items():
        pdf = pd.DataFrame({"user_id": [1, 2], "event_timestamp": list(strings)})
        spine, facts = _ensure_spine(spark, pdf)
        got = [
            r.u for r in spine.select(
                F.unix_micros("event_timestamp").alias("u")
            ).collect()
        ]
        assert got == [pd.Timestamp(w, tz="UTC").value // 1000 for w in want]
        assert facts.n_rows == 2


# --- whole-hour as-of prefilter bounds ----------------------------------------

_EPOCH = datetime(1970, 1, 1)
_US = timedelta(microseconds=1)


def _us(s: str) -> int:
    """An ISO wall clock as µs since the epoch: the UTC instant for a
    TIMESTAMP column, the zone-free wall clock for TIMESTAMP_NTZ."""
    return (datetime.fromisoformat(s) - _EPOCH) // _US


# (name, session zone, ttl/tolerance seconds, spine rows (k, ts),
#  feature rows (k, ts)). Every case places feature rows in the margins
# the whole-hour widening adds: (hi, ceil(hi)], [floor(lo - ttl), lo - ttl)
# and [floor(lo), lo).
_WIDEN_CASES = [
    ("spine_max_on_the_hour", "UTC", 3600,
     [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 12:00:00")],
     [(1, "2024-01-01 08:59:59.999999"), (1, "2024-01-01 09:00:00"),
      (2, "2024-01-01 12:00:00"), (2, "2024-01-01 12:00:00.000001"),
      (2, "2024-01-01 13:00:00")]),
    ("rows_in_widened_margins", "UTC", 3600,
     [(1, "2024-01-01 10:20:00"), (2, "2024-01-01 12:30:00"),
      (3, "2024-01-01 10:20:00")],
     [(1, "2024-01-01 09:10:00"), (1, "2024-01-01 10:05:00"),
      (1, "2024-01-01 10:25:00"), (2, "2024-01-01 12:00:00"),
      (2, "2024-01-01 12:45:00"), (2, "2024-01-01 13:00:00"),
      (2, "2024-01-01 13:45:00"), (3, "2024-01-01 09:10:00")]),
    # wall clocks inside the America/New_York spring-forward gap
    # (02:00-03:00 on 2024-03-10)
    ("dst_gap_bound", "America/New_York", 1500,
     [(1, "2024-03-10 02:30:00"), (2, "2024-03-10 01:40:00")],
     [(1, "2024-03-10 02:02:00"), (1, "2024-03-10 02:10:00"),
      (1, "2024-03-10 02:45:00"), (1, "2024-03-10 03:00:00"),
      (2, "2024-03-10 01:05:00"), (2, "2024-03-10 01:20:00"),
      (2, "2024-03-10 01:55:00")]),
    # instants in New York's repeated hour (05:00-07:00 UTC on
    # 2024-11-03 is 01:00-02:00 twice): a driver in that zone collects
    # the spine maximum as a naive datetime with fold=1
    ("dst_fold_bound", "America/New_York", 1800,
     [(1, "2024-11-03 06:30:00"), (2, "2024-11-03 05:10:00")],
     [(1, "2024-11-03 06:20:00"), (1, "2024-11-03 06:40:00"),
      (2, "2024-11-03 04:35:00"), (2, "2024-11-03 04:50:00")]),
    # a 1-day TTL or tolerance across New York's 2024-03-10 spring-forward
    # change spans 24 h of instants, 23 h of a New York driver's wall clock
    ("dst_ttl_across_spring_forward", "UTC", 86400,
     [(1, "2024-03-10 16:00:00")],
     [(1, "2024-03-09 15:59:59"), (1, "2024-03-09 16:00:00"),
      (1, "2024-03-09 16:30:00")]),
    ("dst_tolerance_across_spring_forward", "UTC", 86400,
     [(1, "2024-03-09 16:00:00")],
     [(1, "2024-03-08 16:00:00"), (1, "2024-03-10 15:30:00"),
      (1, "2024-03-10 16:00:01")]),
]


def _widen_frames(spark, tmp_path, kind, spine_rows, feat_rows):
    """(spine, feature source) of one case as parquet-backed frames
    whose time column is a TIMESTAMP (``micros``), a raw TIMESTAMP(NANOS)
    column converted by ``read_parquet`` (``nanos``) or TIMESTAMP_NTZ;
    ``mixed`` is a TIMESTAMP spine against a TIMESTAMP_NTZ source."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from feast_ibm_spark.sources.reader import read_parquet

    fid = list(range(len(feat_rows)))
    path = str(tmp_path / f"{kind}_feat_{len(list(tmp_path.iterdir()))}")
    if kind in ("ntz", "mixed"):
        spark.createDataFrame(
            [(k, s, float(i)) for i, (k, s) in zip(fid, feat_rows)],
            "k bigint, s string, v double",
        ).select("k", F.to_timestamp_ntz("s").alias("ts"), "v").write.parquet(path)
        feat = spark.read.parquet(path)
    if kind == "ntz":
        spine = spark.createDataFrame(
            [(k, i, s) for i, (k, s) in enumerate(spine_rows)],
            "k bigint, sid bigint, s string",
        ).select("k", "sid", F.to_timestamp_ntz("s").alias("event_timestamp"))
        return spine, feat
    if kind != "mixed":
        # a nanos tail below the microsecond truncates away on read
        ts = (
            pa.array([_us(s) for _, s in feat_rows], pa.timestamp("us", tz="UTC"))
            if kind == "micros"
            else pa.array([_us(s) * 1000 + 500 for _, s in feat_rows],
                          pa.timestamp("ns", tz="UTC"))
        )
        pq.write_table(
            pa.table({"k": [k for k, _ in feat_rows], "ts": ts,
                      "v": [float(i) for i in fid]}),
            path + ".parquet", version="2.6", coerce_timestamps=None,
        )
        feat = read_parquet(spark, path + ".parquet")
    spine = spark.createDataFrame(
        [(k, i, _us(s)) for i, (k, s) in enumerate(spine_rows)],
        "k bigint, sid bigint, u bigint",
    ).select("k", "sid", F.timestamp_micros("u").alias("event_timestamp"))
    return spine, feat


def _brute_widen(spine_rows, feat_rows, mode, tol_s):
    """Per spine row: the feature id the as-of semantics pick (PIT with
    TTL ``tol_s`` or ``asof_join`` in ``mode`` with that tolerance)."""
    tol = tol_s * 1_000_000
    out = {}
    for sid, (k, s) in enumerate(spine_rows):
        st = _us(s)
        cands = []
        for fid, (fk, f) in enumerate(feat_rows):
            d = _us(f) - st
            if fk != k:
                continue
            if mode in ("pit", "backward"):
                ok = -tol <= d <= 0
            elif mode == "forward":
                ok = 0 <= d <= tol
            else:
                ok = abs(d) <= tol
            if ok:
                cands.append((abs(d), _us(f), fid))
        if mode in ("pit", "backward"):
            best = max(cands, key=lambda c: c[1], default=None)
        else:  # forward: earliest; nearest: closest, then earlier
            best = min(cands, default=None)
        out[sid] = None if best is None else float(best[2])
    return out


@pytest.mark.parametrize("kind", ["micros", "nanos", "ntz", "mixed"])
def test_prefilter_whole_hour_widening_is_exact(
    spark, tmp_path, kind, new_york_driver
):
    """The as-of prefilters widen their bounds to whole hours of the
    column's time space; results must equal the brute-force oracle for
    rows in every widened margin, a spine maximum on the hour, bounds in
    a DST gap or repeated hour and a TTL or tolerance across a DST
    change, under three PIT strategies and every ``asof_join`` direction,
    with the driver in New York. The scan still carries the bounds.
    ``mixed`` (a TIMESTAMP spine, a TIMESTAMP_NTZ source) runs under the
    engine's UTC session, where NTZ values are UTC wall clocks."""
    from feast_ibm_spark.operators.asof import asof_join
    from feast_ibm_spark.plans.inspect import pushed_filters

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for name, zone, tol, spine_rows, feat_rows in _WIDEN_CASES:
            if kind == "mixed" and zone != "UTC":
                continue
            spark.conf.set("spark.sql.session.timeZone", zone)
            spine, feat = _widen_frames(spark, tmp_path, kind, spine_rows, feat_rows)
            view = FeatureViewSpec("fv", feat, ["k"], ["v"], "ts", ttl_seconds=tol)
            runs = {
                s: ("pit", point_in_time_join(spine, [view], strategy=s))
                for s in ("union_window", "union_window_salted", "range_join")
            }
            for d in ("backward", "forward", "nearest"):
                runs[d] = (d, asof_join(
                    spine, feat, ["k"], "event_timestamp", "ts", ["v"],
                    direction=d, tolerance_seconds=tol,
                ))
            for run, (mode, out) in runs.items():
                got = {r.sid: r.v for r in out.collect()}
                assert got == _brute_widen(spine_rows, feat_rows, mode, tol), (
                    kind, name, run)
                # pushed_filters splits entries on commas
                fs = pushed_filters(out)
                assert "LessThanOrEqual(ts" in fs, (kind, name, run, fs)
                if mode in ("pit", "backward", "nearest"):
                    assert "GreaterThanOrEqual(ts" in fs, (kind, name, run, fs)
            if kind == "nanos":
                # the PIT upper bound: ceil(hi) to the hour, in raw nanos
                hour = 3_600_000_000
                hi = max(_us(s) for _, s in spine_rows)
                bound = -(-hi // hour) * hour * 1000 + 999
                fs = ", ".join(pushed_filters(runs["union_window"][1]))
                assert f"LessThanOrEqual(ts, {bound})" in fs, (name, fs)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_warm_training_set_with_a_new_spine_maximum_compiles_nothing(spark, tmp_path):
    """Two retrievals whose spine maxima differ inside one hour plan the
    same generated code: after a warm-up, the second adds nothing to
    Spark's codegen compilation count. Exact bounds inline each new
    maximum as a literal into the scan stage and compile it again."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from feast_ibm_spark.sources.reader import read_parquet
    from feast_ibm_spark.store import SparkOfflineStore

    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({
        "user_id": [i % 5 for i in range(40)],
        "ts": pa.array(
            [_us("2024-01-01 00:00:00") + i * 1_800_000_000 for i in range(40)],
            pa.timestamp("us", tz="UTC"),
        ),
        "value": [float(i) for i in range(40)],
    }), path)

    def retrieve(spine_max: str) -> int:
        spine = pd.DataFrame({
            "user_id": [1, 2, 3],
            "event_timestamp": pd.to_datetime(
                ["2024-01-01 09:15:00", "2024-01-01 14:00:00", spine_max],
                format="ISO8601",
            ),
        })
        views = [
            FeatureViewSpec("v", read_parquet(spark, path), ["user_id"],
                            ["value"], "ts"),
            FeatureViewSpec("t", read_parquet(spark, path), ["user_id"],
                            ["value"], "ts", ttl_seconds=86400),
        ]
        compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        before = compiles.METRIC_COMPILATION_TIME().getCount()
        SparkOfflineStore.get_historical_features(
            spark, spine, views, full_feature_names=True
        ).to_arrow()
        return compiles.METRIC_COMPILATION_TIME().getCount() - before

    retrieve("2024-01-01 16:05:00")
    retrieve("2024-01-01 16:20:00")
    assert retrieve("2024-01-01 16:47:12.5") == 0


# --- date-partition cut in the session zone -----------------------------------


@pytest.mark.parametrize("zone", ["UTC", "America/Los_Angeles"])
def test_pit_date_partition_cut_uses_the_session_zone(spark, tmp_path, zone):
    """The ``date_partition_column`` cut takes the date of each bound in
    the session zone, where the source writes its ``ds`` partitions, not
    in the driver's zone. A feature row at 01:00 UTC and a spine row at
    02:00 UTC on 2024-01-05 must match under any driver zone (CI runs
    this file again under a New York driver, whose date of the bound is
    2024-01-04) and any session zone (in Los Angeles both instants fall
    on 2024-01-04, a day before the driver's UTC date of the TTL bound)."""
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        path = str(tmp_path / "by_ds")
        spark.createDataFrame(
            [(1, "2024-01-05 01:00:00+00:00", 1.0)], "k bigint, s string, v double"
        ).select(
            "k", F.to_timestamp("s").alias("ts"), "v"
        ).withColumn("ds", F.date_format("ts", "yyyy-MM-dd")).write.partitionBy(
            "ds"
        ).parquet(path)
        spine = spark.createDataFrame(
            [(1, "2024-01-05 02:00:00+00:00")], "k bigint, s string"
        ).select("k", F.to_timestamp("s").alias("event_timestamp"))
        view = FeatureViewSpec("fv", spark.read.parquet(path), ["k"], ["v"], "ts",
                               ttl_seconds=3600, date_partition_column="ds")
        assert point_in_time_join(spine, [view]).first().v == 1.0
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


# --- the spine rides the melt -------------------------------------------------


def test_training_set_runs_three_jobs_and_joins_nothing_back(spark, tmp_path):
    """A pandas-spine retrieval over two views of one parquet source is
    three Spark jobs: the key-prune broadcast, the melt's shuffle map
    stage and the window stage that emits the result rows. The spine's
    own rows ride the melt, so the plan has no LEFT join back onto it."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from feast_ibm_spark.plans.inspect import explain_str
    from feast_ibm_spark.sources.reader import read_parquet
    from feast_ibm_spark.store import SparkOfflineStore

    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({
        "user_id": [i % 5 for i in range(40)],
        "ts": pa.array(
            [_us("2024-01-01 00:00:00") + i * 1_800_000_000 for i in range(40)],
            pa.timestamp("us", tz="UTC"),
        ),
        "value": [float(i) for i in range(40)],
    }), path)
    spine = pd.DataFrame({
        "user_id": [1, 2, 3, 9, 1],
        "event_timestamp": pd.to_datetime(
            ["2024-01-01 09:15:00", "2024-01-01 14:00:00", "2024-01-01 16:05:00",
             "2024-01-01 10:00:00", "2024-01-01 09:15:00"],
            format="ISO8601",
        ),
        "label": [0.1, 0.2, 0.3, 0.4, 0.1],
    })
    views = [
        FeatureViewSpec("v", read_parquet(spark, path), ["user_id"], ["value"], "ts"),
        FeatureViewSpec("t", read_parquet(spark, path), ["user_id"], ["value"], "ts",
                        ttl_seconds=3600),
    ]
    sc = spark.sparkContext
    try:
        for i in range(3):
            group = f"test_training_set_job_count_{i}"
            sc.setJobGroup(group, "training set job count")
            job = SparkOfflineStore.get_historical_features(
                spark, spine, views, full_feature_names=True
            )
            assert job.to_arrow().num_rows == len(spine)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert "LeftOuter" not in explain_str(job.to_spark_df())
