"""End-to-end acceptance test: the reference's ``driver_stats`` scenario,
actually computed.

The reference's integration test (``tests/test_integration.py:177-243``)
mocks ``run_sql`` and never executes its generated PIT query; it only pins
the SQL text and echoes a hand-written ``expected_df``
(``tests/test_integration.py:183-196``). Here the same scenario — entity
``driver`` with join key ``driver_id``, FeatureView ``driver_hourly_stats``
with features conv_rate/acc_rate/avg_daily_trips and TTL=1 day
(``tests/test_integration.py:29-49``) — is computed from raw feature rows
engineered so the correct PIT-join output IS the reference's expected_df:
per driver there are superseded older rows, rows after the spine timestamp,
rows outside TTL, and a created-timestamp tie, so every semantic branch of
the as-of join is exercised, not mocked.
"""

import functools
from datetime import datetime, timedelta

import pandas as pd
import pytest
from pandas.testing import assert_frame_equal

from feast_ibm_spark.operators.pit_join import FeatureViewSpec
from feast_ibm_spark import store
from feast_ibm_spark.store import SparkOfflineStore

T = datetime  # brevity


def _spine_pdf() -> pd.DataFrame:
    # reference tests/test_integration.py:215-225 (entity df incl. label col)
    return pd.DataFrame(
        {
            "driver_id": [1001, 1002, 1003],
            "event_timestamp": [
                T(2021, 4, 12, 10, 59, 42),
                T(2021, 4, 12, 8, 12, 10),
                T(2021, 4, 12, 16, 40, 26),
            ],
            "label_driver_reported_satisfaction": [1, 5, 3],
        }
    )


def _expected_pdf() -> pd.DataFrame:
    # reference tests/test_integration.py:183-196
    return pd.DataFrame(
        {
            "driver_id": [1001, 1002, 1003],
            "event_timestamp": [
                T(2021, 4, 12, 10, 59, 42),
                T(2021, 4, 12, 8, 12, 10),
                T(2021, 4, 12, 16, 40, 26),
            ],
            "conv_rate": [1.0, 2.0, 3.0],
            "acc_rate": [1.0, 1.0, 0.0],
            "avg_daily_trips": [200, 300, 400],
            "label_driver_reported_satisfaction": [1, 5, 3],
        }
    )


def _feature_rows() -> pd.DataFrame:
    """Raw driver_stats rows whose correct PIT join equals _expected_pdf.

    Per driver: a winner, plus rows that must be EXCLUDED for a specific
    reason (superseded / future / outside-TTL / created-ts tie loser).
    """
    rows = [
        # driver 1001 — winner at 10:00; older row superseded; future row ignored
        (1001, T(2021, 4, 12, 9, 0), T(2021, 4, 12, 9, 0), 0.5, 0.5, 111),
        (1001, T(2021, 4, 12, 10, 0), T(2021, 4, 12, 10, 0), 1.0, 1.0, 200),
        (1001, T(2021, 4, 12, 11, 30), T(2021, 4, 12, 11, 30), 9.0, 9.0, 999),
        # driver 1002 — winner at 08:00; row > 1 day before spine ts is outside TTL
        (1002, T(2021, 4, 11, 7, 0), T(2021, 4, 11, 7, 0), 8.0, 8.0, 888),
        (1002, T(2021, 4, 12, 8, 0), T(2021, 4, 12, 8, 0), 2.0, 1.0, 300),
        # driver 1003 — two rows at the SAME ts: greater created_ts must win
        (1003, T(2021, 4, 12, 16, 0), T(2021, 4, 12, 16, 5), 3.0, 0.0, 400),
        (1003, T(2021, 4, 12, 16, 0), T(2021, 4, 12, 16, 1), 7.0, 7.0, 777),
        # driver 1004 — not in the spine at all: must not appear
        (1004, T(2021, 4, 12, 12, 0), T(2021, 4, 12, 12, 0), 6.0, 6.0, 666),
    ]
    return pd.DataFrame(
        rows,
        columns=[
            "driver_id", "event_timestamp", "created",
            "conv_rate", "acc_rate", "avg_daily_trips",
        ],
    )


def _view(spark) -> FeatureViewSpec:
    return FeatureViewSpec(
        name="driver_hourly_stats",
        source=spark.createDataFrame(_feature_rows()),
        join_keys=["driver_id"],
        features=["conv_rate", "acc_rate", "avg_daily_trips"],
        timestamp_field="event_timestamp",
        created_timestamp_column="created",
        ttl_seconds=int(timedelta(days=1).total_seconds()),
    )


def _run(spark, strategy: str, full_feature_names: bool = False) -> pd.DataFrame:
    job = SparkOfflineStore.get_historical_features(
        spark,
        _spine_pdf(),
        [_view(spark)],
        full_feature_names=full_feature_names,
        strategy=strategy,
    )
    pdf = job.to_df()
    return pdf.sort_values("driver_id").reset_index(drop=True)


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle", "union_window"])
def test_driver_stats_matches_reference_expected_df(spark, monkeypatch, strategy):
    """``broadcast`` and ``shuffle`` are the two sides of ``range_join``'s
    spine-row gate; the store passes no row cap, so the shuffle side
    lowers the operator's to 0."""
    if strategy == "shuffle":
        monkeypatch.setattr(store, "point_in_time_join", functools.partial(
            store.point_in_time_join, auto_broadcast_rows=0))
    got = _run(spark, "union_window" if strategy == "union_window" else "range_join")
    expected = _expected_pdf()
    assert_frame_equal(
        got[list(expected.columns)], expected, check_dtype=False
    )


def test_driver_stats_full_feature_names(spark):
    got = _run(spark, "range_join", full_feature_names=True)
    assert list(got.columns) == [
        "driver_id",
        "event_timestamp",
        "label_driver_reported_satisfaction",
        "driver_hourly_stats__conv_rate",
        "driver_hourly_stats__acc_rate",
        "driver_hourly_stats__avg_daily_trips",
    ]
    assert got["driver_hourly_stats__avg_daily_trips"].tolist() == [200, 300, 400]


def test_driver_stats_null_features_outside_ttl(spark):
    """A spine row with no in-TTL feature rows keeps NULL features
    (the final LEFT join, reference :765-778)."""
    spine = pd.concat(
        [
            _spine_pdf(),
            pd.DataFrame(
                {
                    "driver_id": [1005],
                    "event_timestamp": [T(2021, 4, 12, 12, 0)],
                    "label_driver_reported_satisfaction": [9],
                }
            ),
        ],
        ignore_index=True,
    )
    job = SparkOfflineStore.get_historical_features(spark, spine, [_view(spark)])
    pdf = job.to_df().sort_values("driver_id").reset_index(drop=True)
    assert len(pdf) == 4
    row = pdf[pdf.driver_id == 1005].iloc[0]
    assert pd.isna(row["conv_rate"]) and pd.isna(row["avg_daily_trips"])


def test_missing_join_key_raises(spark):
    """Registry join-key validation (reference :386-392): a spine without
    a view's join key fails fast with the missing columns named."""
    spine = pd.DataFrame(
        {"event_timestamp": [T(2021, 4, 12, 10, 0)], "other": [1]}
    )
    with pytest.raises(ValueError, match="driver_id"):
        SparkOfflineStore.get_historical_features(spark, spine, [_view(spark)])


def test_unresolvable_spine_timestamp_raises(spark):
    spine = pd.DataFrame({"driver_id": [1001], "when": [T(2021, 4, 12)]})
    with pytest.raises(ValueError, match="timestamp"):
        SparkOfflineStore.get_historical_features(spark, spine, [_view(spark)])
