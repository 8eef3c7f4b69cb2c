"""Protocol-pin test: the adapter vs the recorded feast-0.36 contract.

Feast is not installed in the build container, so the real e2e
(`test_feast_e2e.py`) skips. This suite closes the drift gap the
round-3 verdict flagged: `tests/fixtures/feast_036_contract.json`
records the exact attribute/call surface feast-0.36 objects present
(mirroring the reference's integration scenario,
`/root/reference/tests/test_integration.py:177-243`), and the adapter
is driven end-to-end with STRICT ducks that expose exactly that
surface:

- a bare attribute access outside the contract raises (the adapter
  would crash on real feast objects too) and fails the test;
- a `getattr(x, name, default)` probe outside the contract silently
  gets the default — exactly how the adapter is designed to handle
  optional feast attributes — so the strictness tests real drift, not
  defensive probing;
- the three OfflineStore entry points are signature-pinned by
  parameter NAME AND ORDER, because feast core calls them with
  keyword arguments.
"""

from __future__ import annotations

import inspect
import json
import os
from datetime import datetime as TS, timedelta, timezone

import pandas as pd

from feast_ibm_spark.feast_adapter import SparkFeastOfflineStore
from feast_ibm_spark.retrieval import SparkRetrievalJob

# the feature rows are UTC instants, as the pandas spines' naive
# timestamps read in the engine's UTC session zone
UTC = timezone.utc

CONTRACT = json.load(
    open(os.path.join(os.path.dirname(__file__), "fixtures",
                      "feast_036_contract.json"))
)


class StrictDuck:
    """Exposes exactly the attributes in ``allowed``; records accesses.

    Bare access to anything else raises AttributeError — which is what a
    real feast-0.36 object would do — so an adapter that starts
    consuming off-contract attributes fails here first.
    """

    def __init__(self, kind: str, allowed: list[str], **values):
        unknown = set(values) - set(allowed)
        assert not unknown, f"fixture bug: {kind} does not have {unknown}"
        object.__setattr__(self, "_kind", kind)
        object.__setattr__(self, "_allowed", set(allowed))
        object.__setattr__(self, "_values", values)
        object.__setattr__(self, "accessed", set())

    def __getattr__(self, name):
        if name.startswith("_") or name == "accessed":
            raise AttributeError(name)
        if name in self._allowed:
            self.accessed.add(name)
            return self._values.get(name)
        raise AttributeError(
            f"feast-0.36 {self._kind} has no attribute {name!r} "
            f"(adapter drift — update the contract fixture only if feast "
            f"itself gained this attribute)"
        )


def _contract_duck(kind: str, **values) -> StrictDuck:
    return StrictDuck(kind, CONTRACT["classes"][kind]["attributes"], **values)


class StrictRegistry:
    """Duck of feast.infra.registry.base_registry.BaseRegistry as the
    adapter consumes it (list_entities only, per the contract)."""

    def __init__(self, entities):
        assert CONTRACT["classes"]["BaseRegistry"]["methods"] == [
            "list_entities"
        ]
        self._entities = entities
        self.calls: list = []

    def list_entities(self, project):
        self.calls.append(("list_entities", project))
        return self._entities


def _driver_scenario(spark):
    """The reference integration scenario: driver_stats feature view,
    3-driver entity frame, PIT-expected conv_rate values."""
    feat = spark.createDataFrame(
        [
            (1001, TS(2021, 4, 12, 10, 0, tzinfo=UTC), TS(2021, 4, 12, 10, 0, tzinfo=UTC), 1.0),
            (1001, TS(2021, 4, 12, 8, 0, tzinfo=UTC), TS(2021, 4, 12, 8, 0, tzinfo=UTC), 0.5),
            (1002, TS(2021, 4, 12, 7, 0, tzinfo=UTC), TS(2021, 4, 12, 7, 0, tzinfo=UTC), 2.0),
            (1003, TS(2021, 4, 12, 16, 0, tzinfo=UTC), TS(2021, 4, 12, 16, 0, tzinfo=UTC), 3.0),
        ],
        "driver_id bigint, event_timestamp timestamp, created timestamp, "
        "conv_rate double",
    )
    feat.createOrReplaceTempView("contract_driver_stats")

    source = _contract_duck(
        "DataEngineDataSource",
        name="driver_hourly_stats_source",
        table="contract_driver_stats",
        query=None,
        cos_type=None,
        timestamp_field="event_timestamp",
        created_timestamp_column="created",
        field_mapping={},
        description="",
        tags={},
        owner="",
    )
    conv_rate = _contract_duck("Field", name="conv_rate", dtype=None,
                               description="", tags={})
    view = _contract_duck(
        "FeatureView",
        name="driver_hourly_stats",
        entities=["driver"],
        entity_columns=[],  # pre-apply state: resolve via registry
        ttl=timedelta(days=1),
        batch_source=source,
        stream_source=None,
        source=source,
        schema=[conv_rate],
        features=[conv_rate],
        online=True,
        description="",
        tags={"team": "driver_performance"},
        owner="",
    )
    driver = _contract_duck(
        "Entity", name="driver", join_key="driver_id", value_type=None,
        description="", tags={}, owner="",
    )
    entity_df = pd.DataFrame(
        {
            "driver_id": [1001, 1002, 1003],
            "event_timestamp": [
                TS(2021, 4, 12, 10, 59, 42),
                TS(2021, 4, 12, 8, 12, 10),
                TS(2021, 4, 12, 16, 40, 26),
            ],
            "label_driver_reported_satisfaction": [1, 5, 3],
        }
    )
    return source, view, driver, entity_df


def test_entry_point_signatures_match_feast_036():
    for method, params in CONTRACT["offline_store_signatures"].items():
        if method.startswith("_"):
            continue
        got = list(
            inspect.signature(getattr(SparkFeastOfflineStore, method)).parameters
        )
        assert got == params, (
            f"{method} signature drifted from the feast-0.36 call "
            f"contract: {got} != {params}"
        )


def test_get_historical_features_against_contract_ducks(spark):
    source, view, driver, entity_df = _driver_scenario(spark)
    config = StrictDuck("RepoConfig",
                        CONTRACT["classes"]["RepoConfig"]["attributes"],
                        offline_store=None, project="test_plugin")
    registry = StrictRegistry([driver])

    job = SparkFeastOfflineStore.get_historical_features(
        config=config,
        feature_views=[view],
        feature_refs=["driver_hourly_stats:conv_rate"],
        entity_df=entity_df,
        registry=registry,
        project="test_plugin",
        full_feature_names=False,
    )
    got = (
        job.to_df()
        .sort_values("driver_id")
        .reset_index(drop=True)
    )
    # PIT semantics from the reference scenario: latest row at or before
    # each entity timestamp, within the 1-day ttl
    assert got["conv_rate"].tolist() == [1.0, 2.0, 3.0]
    assert got["label_driver_reported_satisfaction"].tolist() == [1, 5, 3]
    # the adapter resolved join keys through the registry (pre-apply
    # views carry entity NAMES; join_key lives on the Entity)
    assert registry.calls == [("list_entities", "test_plugin")]
    assert "join_key" in driver.accessed
    # and consumed the core view/source surface
    for attr in ("name", "ttl", "entities"):
        assert attr in view.accessed, f"adapter no longer reads view.{attr}"
    for attr in ("table", "timestamp_field", "created_timestamp_column"):
        assert attr in source.accessed, f"adapter no longer reads source.{attr}"


def test_pull_latest_and_pull_all_against_contract_ducks(spark):
    source, _view, _driver, _edf = _driver_scenario(spark)
    config = StrictDuck("RepoConfig",
                        CONTRACT["classes"]["RepoConfig"]["attributes"],
                        offline_store=None, project="test_plugin")

    latest = SparkFeastOfflineStore.pull_latest_from_table_or_query(
        config=config,
        data_source=source,
        join_key_columns=["driver_id"],
        feature_name_columns=["conv_rate"],
        timestamp_field="event_timestamp",
        created_timestamp_column="created",
        start_date=TS(2021, 4, 1),
        end_date=TS(2021, 5, 1),
    )
    got = {r.driver_id: r.conv_rate for _, r in latest.to_df().iterrows()}
    assert got == {1001: 1.0, 1002: 2.0, 1003: 3.0}

    all_rows = SparkFeastOfflineStore.pull_all_from_table_or_query(
        config=config,
        data_source=source,
        join_key_columns=["driver_id"],
        feature_name_columns=["conv_rate"],
        timestamp_field="event_timestamp",
        start_date=TS(2021, 4, 1),
        end_date=TS(2021, 5, 1),
    )
    assert len(all_rows.to_df()) == 4


def test_materialize_calling_convention_against_contract_ducks(spark):
    """Replays feast 0.36's materialization path (the one reference test
    flow with no executed counterpart here, since feast can't install in
    this container): LocalMaterializationEngine._materialize_one calls
    pull_latest_from_table_or_query with exactly the recorded keyword
    set, consumes the job via to_arrow(), and reads the Arrow columns BY
    NAME. Drives the adapter the same way, strictly from the fixture."""
    conv = CONTRACT["materialize_calling_convention"]
    source, view, driver, _edf = _driver_scenario(spark)
    config = StrictDuck("RepoConfig",
                        CONTRACT["classes"]["RepoConfig"]["attributes"],
                        offline_store=None, project="test_plugin")

    # column resolution exactly as _get_column_names would produce it
    kwargs = {
        "config": config,
        "data_source": view.batch_source,
        "join_key_columns": [driver.join_key],
        "feature_name_columns": [f.name for f in view.schema],
        "timestamp_field": view.batch_source.timestamp_field,
        "created_timestamp_column": view.batch_source.created_timestamp_column,
        "start_date": TS(2021, 4, 1),
        "end_date": TS(2021, 5, 1),
    }
    assert sorted(kwargs) == sorted(conv["kwargs"]), (
        "test drifted from the recorded materialize kwargs"
    )
    method = getattr(SparkFeastOfflineStore, conv["offline_method"])
    job = method(**kwargs)  # keyword-only, like feast core

    assert conv["job_consumes"] == ["to_arrow"]
    table = job.to_arrow()
    # _convert_arrow_to_proto reads these columns by name
    for col in ("driver_id", "conv_rate", "event_timestamp", "created"):
        assert col in table.column_names, table.column_names
    got = dict(zip(table.column("driver_id").to_pylist(),
                   table.column("conv_rate").to_pylist()))
    assert got == {1001: 1.0, 1002: 2.0, 1003: 3.0}


def test_retrieval_job_exposes_feast_surface():
    job = SparkRetrievalJob(lambda: None)
    members = CONTRACT["retrieval_job_surface"]["members"]
    missing = [m for m in members if not hasattr(job, m)]
    assert not missing, (
        f"SparkRetrievalJob lost feast-0.36 RetrievalJob members: {missing}"
    )
    assert job.full_feature_names is False
    assert job.on_demand_feature_views == []
