"""Feast-adapter tests with duck-typed FeatureView/DataSource/Entity
objects (feast itself is not installed in this environment; the adapter
defers all feast imports, so ducks with the right attributes exercise the
full mapping + execution path)."""

from datetime import datetime as TS, timedelta, timezone
from types import SimpleNamespace

import pandas as pd

from feast_ibm_spark.feast_adapter import (
    SparkFeastOfflineStore,
    _join_keys_of,
    _source_to_engine,
    _view_to_spec,
)
from feast_ibm_spark.operators.pit_join import point_in_time_join
from feast_ibm_spark.plans.inspect import explain_str

# the feature rows are UTC instants, as the pandas spines' naive
# timestamps read in the engine's UTC session zone
UTC = timezone.utc


def _duck_source(tmp_path_or_table):
    return SimpleNamespace(
        table=tmp_path_or_table,
        query=None,
        path=None,
        cos_type="parquet",
        name="driver_stats",
        timestamp_field="event_timestamp",
        created_timestamp_column="created",
        field_mapping={},
    )


def _duck_view(spark):
    feat = spark.createDataFrame(
        [
            (1001, TS(2021, 4, 12, 10, 0, tzinfo=UTC), TS(2021, 4, 12, 10, 0, tzinfo=UTC), 1.0),
            (1001, TS(2021, 4, 12, 8, 0, tzinfo=UTC), TS(2021, 4, 12, 8, 0, tzinfo=UTC), 0.5),
            (1002, TS(2021, 4, 12, 8, 0, tzinfo=UTC), TS(2021, 4, 12, 8, 0, tzinfo=UTC), 2.0),
        ],
        "driver_id bigint, event_timestamp timestamp, created timestamp, conv_rate double",
    )
    feat.createOrReplaceTempView("adapter_driver_stats")
    return SimpleNamespace(
        name="driver_hourly_stats",
        batch_source=_duck_source("adapter_driver_stats"),
        source=None,
        entities=["driver"],
        entity_columns=None,
        ttl=timedelta(days=1),
        features=[SimpleNamespace(name="conv_rate")],
    )


def test_source_mapping_uses_cos_type():
    src = _source_to_engine(_duck_source("t"))
    assert src.table == "t" and src.format == "parquet"
    assert src.created_timestamp_column == "created"


def test_join_key_resolution_via_registry_ducks():
    view = SimpleNamespace(entity_columns=None, entities=["driver"])
    ent = SimpleNamespace(name="driver", join_key="driver_id", join_keys=None)
    assert _join_keys_of(view, {"driver": ent}) == ["driver_id"]
    # no registry: entity name passes through
    assert _join_keys_of(view, {}) == ["driver"]


def test_view_to_spec(spark):
    spec = _view_to_spec(spark, _duck_view(spark),
                         {"driver": SimpleNamespace(name="driver",
                                                    join_key="driver_id")})
    assert spec.name == "driver_hourly_stats"
    assert spec.join_keys == ["driver_id"]
    assert spec.features == ["conv_rate"]
    assert spec.ttl_seconds == 86400
    assert spec.created_timestamp_column == "created"


def test_adapter_end_to_end_historical_features(spark):
    config = SimpleNamespace(offline_store=SimpleNamespace(
        spark_master=None, spark_conf=None, shuffle_partitions=8))

    class Reg:
        def list_entities(self, project):
            return [SimpleNamespace(name="driver", join_key="driver_id")]

    entity_df = pd.DataFrame(
        {
            "driver_id": [1001, 1002],
            "event_timestamp": [TS(2021, 4, 12, 10, 59), TS(2021, 4, 12, 8, 12)],
        }
    )
    job = SparkFeastOfflineStore.get_historical_features(
        config,
        [_duck_view(spark)],
        ["driver_hourly_stats:conv_rate"],
        entity_df,
        registry=Reg(),
        project="p",
    )
    pdf = job.to_df().sort_values("driver_id").reset_index(drop=True)
    assert pdf["conv_rate"].tolist() == [1.0, 2.0]


def test_adapter_pull_latest(spark):
    _duck_view(spark)  # registers the temp view
    config = SimpleNamespace(offline_store=None)
    job = SparkFeastOfflineStore.pull_latest_from_table_or_query(
        config,
        _duck_source("adapter_driver_stats"),
        ["driver_id"],
        ["conv_rate"],
        "event_timestamp",
        "created",
        TS(2021, 4, 1),
        TS(2021, 5, 1),
    )
    got = {r.driver_id: r.conv_rate for _, r in job.to_df().iterrows()}
    assert got == {1001: 1.0, 1002: 2.0}


def test_view_to_spec_detects_bucketed_source(spark):
    """A table-backed source that is bucketed on the join key takes the
    PIT auto strategy's zero-feature-shuffle range-join carve-out with no
    label on the spec: the join reads the bucketing from the source's
    plan."""
    import shutil

    from feast_ibm_spark.sources.bucketed import write_bucketed

    feat = spark.createDataFrame(
        [(1001, __import__("datetime").datetime(2021, 4, 12), 1.0)],
        "driver_id bigint, event_timestamp timestamp, conv_rate double",
    )
    spark.sql("DROP TABLE IF EXISTS adapter_bucketed_stats")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/adapter_bucketed_stats", ignore_errors=True)
    write_bucketed(feat, "adapter_bucketed_stats", ["driver_id"], 4)

    view = SimpleNamespace(
        name="v",
        batch_source=SimpleNamespace(
            table="adapter_bucketed_stats", query=None, path=None,
            cos_type="parquet", name="s", timestamp_field="event_timestamp",
            created_timestamp_column=None, field_mapping={}),
        source=None,
        entities=["driver"],
        entity_columns=None,
        ttl=None,
        features=[SimpleNamespace(name="conv_rate")],
    )
    spec = _view_to_spec(spark, view,
                         {"driver": SimpleNamespace(name="driver",
                                                    join_key="driver_id")})
    assert not hasattr(spec, "bucketed_on")  # no label on the spec
    spine = spark.createDataFrame(
        [(1001, TS(2021, 4, 13))],
        "driver_id bigint, event_timestamp timestamp",
    )
    out = point_in_time_join(spine, [spec])
    # WindowGroupLimit marks the range join's window; the melt has none
    assert "WindowGroupLimit" in explain_str(out)
    assert [r.conv_rate for r in out.collect()] == [1.0]
