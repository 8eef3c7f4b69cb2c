"""SparkDataSource contract tests — the reference's DataSource surface
(``ibm_data_engine/data_engine_offline_store.py:103-299``) re-expressed:
three-way constructor (table | query | path+format, error otherwise
``:140-141``), format validation (``:147``), name defaulting (``:149-153``),
validation probes (``:202-220``), schema introspection (``:228-251``), and
serialization round-trip (``:165-200``) — plus the formats the reference
supports for object-store sources: parquet, csv, json.
"""

import datetime

import pytest

from pyspark.sql import functions as F

from feast_ibm_spark.sources.data_source import (
    DataSourceValidationError,
    SparkDataSource,
)


@pytest.fixture(scope="module")
def sample_rows():
    return [
        (1, "a", 10.5, datetime.datetime(2024, 1, 1, 8, 0, 0)),
        (2, "b", 20.25, datetime.datetime(2024, 1, 2, 9, 30, 0)),
        (3, "c", 30.0, datetime.datetime(2024, 1, 3, 10, 45, 0)),
    ]


@pytest.fixture(scope="module")
def sample_df(spark, sample_rows):
    return spark.createDataFrame(sample_rows, "id bigint, name string, value double, ts timestamp")


# -- constructor contract ----------------------------------------------------


def test_exactly_one_of_table_query_path_required():
    with pytest.raises(DataSourceValidationError):
        SparkDataSource()
    with pytest.raises(DataSourceValidationError):
        SparkDataSource(table="t", query="select 1")
    with pytest.raises(DataSourceValidationError):
        SparkDataSource(table="t", path="/p", query="select 1")


def test_format_must_be_supported():
    with pytest.raises(DataSourceValidationError):
        SparkDataSource(path="/p", format="avro")


def test_name_defaults_to_table_then_path():
    assert SparkDataSource(table="events").name == "events"
    assert SparkDataSource(path="/data/x.parquet").name == "/data/x.parquet"
    assert SparkDataSource(query="select 1").name == "query_source"
    assert SparkDataSource(table="t", name="custom").name == "custom"


# -- path sources in all three formats --------------------------------------


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_path_source_roundtrip(spark, sample_df, tmp_path_factory, fmt):
    path = str(tmp_path_factory.mktemp("src") / f"data_{fmt}")
    writer = sample_df.write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", True).csv(path)
    elif fmt == "json":
        writer.json(path)
    elif fmt == "orc":
        writer.orc(path)
    else:
        writer.parquet(path)

    src = SparkDataSource(path=path, format=fmt, timestamp_field="ts")
    src.validate(spark)
    df = src.load(spark)
    # csv without a schema infers strings; json loses column order — check
    # content by name, not dtype
    rows = {r["id"] for r in df.select("id").collect()}
    assert {int(x) for x in rows} == {1, 2, 3}
    cols = dict(src.get_table_column_names_and_types(spark))
    assert set(cols) == {"id", "name", "value", "ts"}


def test_text_source_serves_raw_lines(spark, tmp_path_factory):
    """format="text" serves raw lines as a single `value` string column —
    the pre-schema log-ingestion shape; parsing is the consumer's job."""
    path = str(tmp_path_factory.mktemp("src") / "lines_txt")
    spark.createDataFrame(
        [("id=1 msg=a",), ("id=2 msg=b",), ("id=3 msg=c",)], "value string"
    ).write.mode("overwrite").text(path)

    src = SparkDataSource(path=path, format="text")
    src.validate(spark)
    df = src.load(spark)
    assert df.columns == ["value"]
    got = {
        int(r.uid)
        for r in df.select(
            F.regexp_extract("value", r"^id=(\d+)", 1).alias("uid")
        ).collect()
    }
    assert got == {1, 2, 3}


def test_python_datasource_partitions_and_determinism(spark):
    """The custom Python Data Source must honor its partition plan
    (n_partitions genuine input splits covering the index range exactly
    once), generate rows as a pure function of the index (identical
    across reads), and respect column pruning at the API level (reads
    still work when only one column is selected)."""
    from feast_ibm_spark.sources.python_source import register

    register(spark)

    def load(n, p):
        return (
            spark.read.format("synthetic_events")
            .option("n_rows", n).option("n_partitions", p).load()
        )

    df = load(103, 4)  # non-divisible on purpose: last split is short
    assert df.rdd.getNumPartitions() == 4
    ids = sorted(r.event_id for r in df.select("event_id").collect())
    assert ids == list(range(103))  # exactly-once index coverage
    a = sorted(map(tuple, load(50, 3).collect()))
    b = sorted(map(tuple, load(50, 3).collect()))
    assert a == b
    assert load(10, 2).select("cents").count() == 10


def test_write_audit_publish_blocks_bad_data(spark, tmp_path_factory):
    """A failing audit must leave the LIVE directory exactly as it was
    (old content still readable) and keep the staging dir for
    inspection; a passing audit atomically replaces it."""
    import os

    from feast_ibm_spark.sources.layout import AuditError, write_audit_publish

    dest = str(tmp_path_factory.mktemp("wap") / "live")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, s string")
    write_audit_publish(spark, v1, dest, lambda staged: None)
    assert {r.id for r in spark.read.parquet(dest).collect()} == {1, 2}

    v2 = spark.createDataFrame([(3, "c")], "id bigint, s string")

    def failing_audit(staged):
        raise AuditError("row count regression")

    import pytest as _pytest

    with _pytest.raises(AuditError):
        write_audit_publish(spark, v2, dest, failing_audit)
    # live untouched, staging left behind for inspection
    assert {r.id for r in spark.read.parquet(dest).collect()} == {1, 2}
    assert os.path.isdir(dest + "__staging")

    write_audit_publish(spark, v2, dest, lambda staged: None)
    assert {r.id for r in spark.read.parquet(dest).collect()} == {3}


def test_csv_source_retrieval_end_to_end(spark, sample_df, tmp_path_factory):
    """A retrieval operator (time-range scan) over a CSV source with an
    explicit read; csv types come back as strings without a schema, so load
    through a query source casting them — the composition the reference
    supports via its query sources."""
    path = str(tmp_path_factory.mktemp("src") / "ev_csv")
    sample_df.write.mode("overwrite").option("header", True).csv(path)

    from feast_ibm_spark.operators.pull_all import time_range_scan

    raw = SparkDataSource(path=path, format="csv", timestamp_field="ts")
    df = raw.load(spark).selectExpr(
        "cast(id as bigint) id", "name", "cast(value as double) value",
        "cast(ts as timestamp) ts",
    )
    out = time_range_scan(
        df, ["id"], ["name", "value"], "ts",
        "2024-01-01 00:00:00", "2024-01-02 23:59:59",
    ).collect()
    assert sorted(r["id"] for r in out) == [1, 2]


# -- table and query sources -------------------------------------------------


def test_table_source(spark, sample_df):
    sample_df.createOrReplaceTempView("src_table_test")
    src = SparkDataSource(table="src_table_test")
    src.validate(spark)
    assert src.load(spark).count() == 3


def test_query_source_schema_introspection(spark, sample_df):
    """The reference REFUSES schema-from-query (``:240-248``); we support it."""
    sample_df.createOrReplaceTempView("src_query_test")
    src = SparkDataSource(query="SELECT id, value * 2 AS dbl FROM src_query_test")
    cols = dict(src.get_table_column_names_and_types(spark))
    assert cols == {"id": "bigint", "dbl": "double"}


def test_validate_failures(spark):
    with pytest.raises(DataSourceValidationError):
        SparkDataSource(table="no_such_table_xyz").validate(spark)
    with pytest.raises(DataSourceValidationError):
        SparkDataSource(query="SELECT * FROM no_such_table_xyz").validate(spark)
    with pytest.raises(DataSourceValidationError):
        SparkDataSource(path="/no/such/path.parquet").validate(spark)


# -- field_mapping, serialization, feast types -------------------------------


def test_field_mapping_applied_on_load(spark, sample_df):
    sample_df.createOrReplaceTempView("src_fm_test")
    src = SparkDataSource(table="src_fm_test", field_mapping={"value": "feature_value"})
    assert "feature_value" in src.load(spark).columns
    # introspection reports the RAW schema (reference behavior)
    raw_cols = dict(src.get_table_column_names_and_types(spark))
    assert "value" in raw_cols and "feature_value" not in raw_cols


def test_json_serialization_roundtrip():
    src = SparkDataSource(
        path="/data/x.parquet",
        timestamp_field="ts",
        created_timestamp_column="created",
        field_mapping={"a": "b"},
    )
    back = SparkDataSource.from_json(src.to_json())
    assert back == src


def test_feast_schema_type_mapping(spark, sample_df):
    sample_df.createOrReplaceTempView("src_feast_test")
    got = dict(SparkDataSource(table="src_feast_test").feast_schema(spark))
    assert got["id"] == "INT64"
    assert got["name"] == "STRING"
    assert got["value"] == "DOUBLE"
    assert got["ts"] == "UNIX_TIMESTAMP"


def test_register_tables_sql_facade(spark, sf_dir):
    """Raw Spark SQL over the registered views sees the same (nanos-fixed)
    data as the DataFrame operators."""
    from feast_ibm_spark.sources.catalog import register_tables
    from feast_ibm_spark.sources.reader import load_table

    views = register_tables(spark, sf_dir)
    assert "events" in views and "lineitem" in views
    sql_n = spark.sql(
        "SELECT count(*) AS n FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'"
    ).first()["n"]
    df_n = (
        load_table(spark, sf_dir, "events")
        .filter("ts >= TIMESTAMP '2024-01-15 00:00:00'").count()
    )
    assert sql_n == df_n
    # a join through the views plans and runs
    row = spark.sql(
        "SELECT r_name, count(*) AS n FROM region JOIN nation "
        "ON r_regionkey = n_regionkey GROUP BY r_name ORDER BY r_name LIMIT 1"
    ).first()
    assert row["n"] > 0


def test_eq_and_hash_contract():
    """Reference DataSource equality/hash contract
    (reference tests/test_ibm_data_engine.py:77-91)."""
    assert SparkDataSource(table="t") == SparkDataSource(table="t")
    assert SparkDataSource(table="t") != SparkDataSource(table="u")
    assert hash(SparkDataSource(table="t")) == hash(SparkDataSource(table="t"))
    assert SparkDataSource(table="t") != 0


def test_proto_roundtrip():
    """Registry proto round-trip (reference to_proto/from_proto
    :165-200, pinned by its tests/test_ibm_data_engine.py:98-104)."""
    src = SparkDataSource(
        path="/data/events.parquet",
        format="parquet",
        name="events_src",
        timestamp_field="ts",
        created_timestamp_column="created",
        field_mapping={"v": "value"},
        options={"mergeSchema": "false"},
    )
    proto = src.to_proto()
    assert proto.type == type(proto).CUSTOM_SOURCE
    assert SparkDataSource.from_proto(proto) == src

    # query source: reference-shaped payload keys present in the JSON
    import json as _json

    qsrc = SparkDataSource(query="SELECT 1 AS x", name="q", timestamp_field="ts")
    cfg = _json.loads(qsrc.to_proto().custom_options.configuration.decode("utf8"))
    assert cfg["query"] == "SELECT 1 AS x"
    assert cfg["table"] is None and cfg["cos_type"] is None
    assert SparkDataSource.from_proto(qsrc.to_proto()) == qsrc


def test_from_proto_accepts_reference_payload_shape():
    """A payload with only the reference's three keys
    ({table, query, cos_type}) still deserializes."""
    import json as _json

    from feast_ibm_spark.sources.data_source import _DataSourceProtoShim

    proto = _DataSourceProtoShim(
        name="legacy",
        type=_DataSourceProtoShim.CUSTOM_SOURCE,
        field_mapping={"a": "b"},
        timestamp_field="ts",
        custom_options=_DataSourceProtoShim.CustomSourceOptions(
            configuration=_json.dumps(
                {"table": "my_table", "query": None, "cos_type": None}
            ).encode("utf8")
        ),
    )
    src = SparkDataSource.from_proto(proto)
    assert src.table == "my_table" and src.name == "legacy"
    assert src.timestamp_field == "ts" and src.field_mapping == {"a": "b"}
    assert src.created_timestamp_column is None


def test_compact_small_files(spark, tmp_path_factory):
    """Compaction folds an append-accumulated directory of small files
    into the target file count without changing content."""
    import os

    from feast_ibm_spark.sources.layout import compact

    d = str(tmp_path_factory.mktemp("compact") / "t")
    for _ in range(6):  # six tiny appends -> many small files
        spark.range(1000).write.mode("append").parquet(d)
    before = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    assert before >= 6

    n_files = compact(spark, d, target_rows_per_file=3000)
    assert n_files == 2
    assert spark.read.parquet(d).count() == 6000
    # sorted compaction: one file, ordered layout
    n_files = compact(spark, d, target_rows_per_file=10_000, sort_within=["id"])
    assert n_files == 1
    assert spark.read.parquet(d).count() == 6000


def test_filter_ts_range_nanos_boundaries_randomized(spark, tmp_path):
    """Semantic pin of the raw-nanos predicate rewrite: for a
    TIMESTAMP(NANOS) parquet source, filter_ts_range(lo, hi) must equal
    the brute per-row filter lo <= trunc_us(ts) <= hi INCLUSIVE at both
    ends — the `raw <= hi_us*1000 + 999` trick means a row whose nanos
    tail extends past hi's microsecond must still match. Random
    timestamps with deliberate sub-microsecond tails and bounds placed
    exactly ON row values."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from feast_ibm_spark.sources.reader import filter_ts_range, read_parquet

    rng = random.Random(11)
    base_ns = 1_704_067_200_000_000_000  # 2024-01-01 UTC
    ns_vals = sorted(
        base_ns + rng.randrange(0, 86_400_000_000_000) for _ in range(200)
    )
    # force nanos tails on some rows (sub-microsecond precision)
    ns_vals = [v + rng.choice([0, 1, 499, 999]) for v in ns_vals]
    tbl = pa.table(
        {"i": list(range(len(ns_vals))),
         "ts": pa.array(ns_vals, type=pa.timestamp("ns"))}
    )
    p = str(tmp_path / "nanos.parquet")
    pq.write_table(tbl, p, version="2.6", coerce_timestamps=None)

    conf = spark.conf.getAll
    df = read_parquet(spark, p)
    # the nanos read rides the session default; it sets no conf itself
    assert spark.conf.getAll == conf
    import pandas as pd

    for _ in range(10):
        a, b = sorted(rng.sample(ns_vals, 2))
        # bounds at exact row microseconds (worst case for inclusivity);
        # aware, since a naive bound reads in the driver's zone
        lo = pd.Timestamp(a // 1000 * 1000, tz="UTC")
        hi = pd.Timestamp(b // 1000 * 1000, tz="UTC")
        got = sorted(
            r.i for r in filter_ts_range(df, "ts", lo, hi).collect()
        )
        want = [
            i for i, v in enumerate(ns_vals)
            if lo.value <= (v // 1000) * 1000 <= hi.value
        ]
        assert got == want


def test_nanos_range_pushdown_survives_renames_and_partition_filters(spark, tmp_path):
    """The raw-nanos range predicate reaches the parquet scan behind a
    ``field_mapping`` rename in ``SparkDataSource.load`` and behind the
    PIT join's own rename and date-partition filter: ``PushedFilters``
    holds both raw-space bounds, not just ``IsNotNull``. Each of these
    once dropped the pre-conversion frame ``filter_ts_range`` needs."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from feast_ibm_spark.operators.pit_join import FeatureViewSpec, point_in_time_join
    from feast_ibm_spark.operators.pull_all import time_range_scan
    from feast_ibm_spark.plans.inspect import pushed_filters
    from feast_ibm_spark.sources.reader import read_parquet

    stamps = [pd.Timestamp(f"2024-01-0{d} 10:00", tz="UTC") for d in (1, 2, 3)]
    p = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({
        "k": [1, 1, 1],
        "ts": pa.array([t.value + 7 for t in stamps], pa.timestamp("ns")),
        "v": [1.0, 2.0, 3.0],
        "ds": [t.strftime("%Y-%m-%d") for t in stamps],
    }), p, version="2.6", coerce_timestamps=None)
    lo, hi = stamps[1] - pd.Timedelta(hours=1), stamps[1]
    raw_bounds = [f"GreaterThanOrEqual(ts, {lo.value})",
                  f"LessThanOrEqual(ts, {hi.value + 999})"]

    def assert_raw_pushdown(df, case):
        fs = ", ".join(pushed_filters(df))
        for bound in raw_bounds:
            assert bound in fs, (case, fs)

    src = SparkDataSource(path=p, timestamp_field="event_ts",
                          field_mapping={"ts": "event_ts", "v": "x"})
    scan = time_range_scan(src.load(spark), ["k"], ["x"], "event_ts", lo, hi)
    assert_raw_pushdown(scan, "load field_mapping")
    assert [r.x for r in scan.collect()] == [2.0]

    spine = spark.createDataFrame(
        [(1, stamps[1].to_pydatetime())], "k bigint, event_timestamp timestamp")
    views = {
        "view field_mapping": FeatureViewSpec(
            "fv", read_parquet(spark, p), ["k"], ["x"], "event_ts",
            ttl_seconds=3600, field_mapping={"ts": "event_ts", "v": "x"}),
        "date partition filter": FeatureViewSpec(
            "fv", read_parquet(spark, p), ["k"], ["v"], "ts",
            ttl_seconds=3600, date_partition_column="ds"),
    }
    for case, view in views.items():
        out = point_in_time_join(spine, [view], strategy="union_window")
        assert_raw_pushdown(out, case)
        assert [r[-1] for r in out.collect()] == [2.0], case


def test_nanos_prefilter_reads_naive_bounds_in_the_driver_zone(spark, tmp_path):
    """A pandas spine retrieves the same rows under a UTC and a New York
    driver, on the nanos and the micros branch of ``filter_ts_range``.
    Under a New York driver the nanos branch once read naive bounds as
    UTC, dropping the 08:00 and 11:00 rows for a 12:00 UTC spine, and a
    spine maximum in the repeated hour (06:30 UTC is New York's second
    01:30) once landed an hour early. The spine facts now hand over
    aware UTC bounds; a naive datetime bound still converts as ``F.lit``
    converts it, in the driver's zone."""
    import os
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from feast_ibm_spark.operators.pit_join import FeatureViewSpec
    from feast_ibm_spark.sources.reader import read_parquet
    from feast_ibm_spark.store import SparkOfflineStore

    cases = [  # (feature rows, spine timestamp, expected feature)
        (["2024-01-01 08:00:00", "2024-01-01 11:00:00"], "2024-01-01 12:00:00", 2.0),
        # 06:30 UTC is New York's second 01:30 on 2024-11-03
        (["2024-11-03 05:00:00", "2024-11-03 06:20:00"], "2024-11-03 06:30:00", 2.0),
    ]
    paths = {}
    for i, (rows, _, _) in enumerate(cases):
        for unit, scale in (("ns", 1), ("us", 1000)):
            p = str(tmp_path / f"{unit}{i}.parquet")
            pq.write_table(pa.table({
                "k": [1, 1],
                "ts": pa.array([pd.Timestamp(r).value // scale for r in rows],
                               pa.timestamp(unit, tz="UTC")),
                "v": [1.0, 2.0],
            }), p, version="2.6", coerce_timestamps=None)
            paths[i, unit] = p

    old = os.environ.get("TZ")
    try:
        for zone in ("UTC", "America/New_York"):
            os.environ["TZ"] = zone
            time.tzset()
            for (i, unit), p in paths.items():
                _, spine_ts, want = cases[i]
                spine = pd.DataFrame(
                    {"k": [1], "event_timestamp": [pd.Timestamp(spine_ts)]}
                )
                view = FeatureViewSpec("fv", read_parquet(spark, p), ["k"], ["v"], "ts")
                got = SparkOfflineStore.get_historical_features(
                    spark, spine, [view]
                ).to_df()["v"].tolist()
                assert got == [want], (zone, unit, spine_ts)
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_filter_ts_range_ntz_fallback_is_zone_free(spark):
    """The NTZ fallback branch must compare wall clocks zone-free: the
    same frame filtered under UTC and under a DST zone (with bounds
    inside the spring-forward gap) must return identical rows."""
    from feast_ibm_spark.sources.reader import filter_ts_range

    df = spark.createDataFrame(
        [(i, f"2024-03-10 0{h}:{m:02d}:00")
         for i, (h, m) in enumerate(
             [(1, 30), (1, 59), (2, 15), (2, 45), (3, 5), (3, 40)]
         )],
        "i bigint, s string",
    ).select("i", F.to_timestamp_ntz("s").alias("ts"))
    lo, hi = "2024-03-10 02:00:00", "2024-03-10 03:10:00"

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    results = {}
    try:
        for tz in ("Etc/UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            results[tz] = sorted(
                r.i for r in filter_ts_range(df, "ts", lo, hi).collect()
            )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    # wall clocks 02:15, 02:45, 03:05 fall inside [02:00, 03:10]
    assert results["Etc/UTC"] == results["America/New_York"] == [2, 3, 4]


def test_filter_ts_range_ntz_accepts_aware_bounds_as_utc(spark):
    """Timezone-AWARE lo/hi on an NTZ column must bind at their UTC
    wall clock (the engine's NTZ convention), not the zone-local wall
    clock — a New_York-aware noon is 17:00 UTC."""
    from datetime import datetime
    from zoneinfo import ZoneInfo

    from feast_ibm_spark.sources.reader import filter_ts_range

    df = spark.createDataFrame(
        [(0, "2024-01-01 11:30:00"), (1, "2024-01-01 16:30:00"),
         (2, "2024-01-01 17:30:00"), (3, "2024-01-01 18:30:00")],
        "i bigint, s string",
    ).select("i", F.to_timestamp_ntz("s").alias("ts"))
    lo = datetime(2024, 1, 1, 12, 0, tzinfo=ZoneInfo("America/New_York"))
    hi = datetime(2024, 1, 1, 13, 0, tzinfo=ZoneInfo("America/New_York"))
    got = sorted(r.i for r in filter_ts_range(df, "ts", lo, hi).collect())
    assert got == [2]  # [17:00, 18:00] UTC wall clocks


def test_filter_ts_range_ntz_sentinel_bounds_outside_pandas_range(spark):
    """Far-past/far-future sentinel bounds (outside pandas' 1677-2262 ns
    range) on an NTZ column must behave as no-op bounds, not raise
    OutOfBoundsDatetime (ADVICE r7: the zone-free NTZ path routed every
    bound through pd.Timestamp). Covers datetime, aware-datetime and ISO
    string sentinels."""
    from datetime import datetime, timezone

    from feast_ibm_spark.sources.reader import filter_ts_range

    df = spark.createDataFrame(
        [(0, "2024-01-01 10:00:00"), (1, "2024-06-01 10:00:00")],
        "i bigint, s string",
    ).select("i", F.to_timestamp_ntz("s").alias("ts"))

    wide = filter_ts_range(
        df, "ts", datetime(1, 1, 1), datetime(9999, 12, 31, 23, 59, 59)
    )
    assert sorted(r.i for r in wide.collect()) == [0, 1]
    # aware sentinel normalizes via stdlib astimezone, not pandas
    aware = filter_ts_range(
        df, "ts", datetime(1, 1, 2, tzinfo=timezone.utc), None
    )
    assert sorted(r.i for r in aware.collect()) == [0, 1]
    # ISO-string sentinels pass through verbatim
    s = filter_ts_range(df, "ts", "0001-01-01 00:00:00", "9999-12-31 00:00:00")
    assert sorted(r.i for r in s.collect()) == [0, 1]
    # ...and a mixed window (one sentinel, one in-range bound) still filters
    half = filter_ts_range(df, "ts", datetime(1, 1, 1), "2024-03-01 00:00:00")
    assert sorted(r.i for r in half.collect()) == [0]


# -- footer-derived schema ---------------------------------------------------


def _run_counting_jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran, read through a job
    group."""
    import uuid

    sc = spark.sparkContext
    group = f"fis_footer_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "footer schema job count")
    try:
        out = fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _assert_footer_schema_parity(spark, path):
    """The footer-derived schema equals Spark's inferred one, and a load
    through ``read_parquet`` runs no job."""
    from feast_ibm_spark.sources.reader import (
        _convert_nanos,
        _footer_schema,
        read_parquet,
    )

    schema, nanos = _footer_schema(spark, path)
    raw = spark.read.parquet(path)
    assert schema is not None, path
    assert schema == raw.schema, path
    df, jobs = _run_counting_jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 0, path
    assert df.schema == _convert_nanos(raw, nanos).schema, path
    return nanos


def test_footer_schema_matches_inference_on_testdata(spark, sf_dir):
    """Every table of every scale factor next to the test scale factor."""
    import glob
    import os

    paths = sorted(glob.glob(os.path.join(os.path.dirname(sf_dir), "*", "*.parquet")))
    assert paths
    for p in paths:
        _assert_footer_schema_parity(spark, p)


def test_footer_schema_matches_inference_on_fixtures(spark, tmp_path):
    """pandas INT64 nanos (raw and converted), Spark-written INT96,
    decimal/date/array<struct>/map columns from pyarrow and from Spark,
    and a pandas categorical (dictionary-encoded) column."""
    import decimal

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    nanos_path = str(tmp_path / "nanos.parquet")
    pd.DataFrame(
        {
            "k": [1, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00.123456789", "2024-01-02 00:00:00.000000001"]
            ),
            "tz": pd.to_datetime(["2024-01-01", "2024-01-02"]).tz_localize(
                "America/New_York"
            ),
        }
    ).to_parquet(nanos_path)
    assert _assert_footer_schema_parity(spark, nanos_path) == ["ts", "tz"]

    int96_path = str(tmp_path / "int96")
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        spark.sql(
            "SELECT 1 AS k, timestamp'2024-01-01 00:00:00.123456' AS ts"
        ).write.parquet(int96_path)
    finally:
        spark.conf.set(key, prev)
    assert pq.read_metadata(
        next(str(p) for p in tmp_path.joinpath("int96").glob("*.parquet"))
    ).schema.column(1).physical_type == "INT96"
    _assert_footer_schema_parity(spark, int96_path)

    nested = pa.table(
        {
            "dec": pa.array([decimal.Decimal("1.25"), None], type=pa.decimal128(10, 2)),
            "big": pa.array([decimal.Decimal("1"), None], type=pa.decimal128(30, 3)),
            "d": pa.array([19723, None], type=pa.date32()),
            "arr": pa.array(
                [[{"a": 1, "b": "x"}], None],
                type=pa.list_(pa.struct([("a", pa.int32()), ("b", pa.string())])),
            ),
            "m": pa.array([[("a", 1)], None], type=pa.map_(pa.string(), pa.int64())),
            "i8": pa.array([1, None], type=pa.int8()),
            "f": pa.array([1.5, None], type=pa.float32()),
            "bin": pa.array([b"x", None], type=pa.binary()),
        }
    )
    nested_path = str(tmp_path / "nested.parquet")
    pq.write_table(nested, nested_path)
    _assert_footer_schema_parity(spark, nested_path)

    spark_path = str(tmp_path / "spark_nested")
    spark.sql(
        "SELECT CAST(1.25 AS DECIMAL(10,2)) dec, CAST('2024-01-01' AS DATE) d, "
        "array(named_struct('a', 1, 'b', 'x')) arr, map('a', 1) m, "
        "CAST(1 AS TINYINT) b, CAST(1 AS SMALLINT) s, CAST('x' AS CHAR(3)) ch, "
        "timestamp'2024-01-01 00:00:00' ts"
    ).write.parquet(spark_path)
    _assert_footer_schema_parity(spark, spark_path)

    cat_path = str(tmp_path / "categorical.parquet")
    pd.DataFrame({"c": pd.Categorical(["a", "b", "a"]), "v": [1, 2, 3]}).to_parquet(
        cat_path
    )
    assert pa.types.is_dictionary(pq.read_schema(cat_path).field("c").type)
    _assert_footer_schema_parity(spark, cat_path)


def test_footer_schema_falls_back_to_inference(spark, tmp_path):
    """Each case the footer mapping is not sure of infers the schema: a
    URI, a hive-partitioned directory, footers that disagree, a type that
    does not map, a Spark-written TIMESTAMP_NTZ column, and a session that
    infers TIMESTAMP_NTZ. Each load runs its inference job and gets the
    schema Spark infers."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from feast_ibm_spark.sources.reader import _footer_schema, read_parquet

    flat = str(tmp_path / "flat.parquet")
    pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]}).to_parquet(flat)
    assert _footer_schema(spark, flat)[0] is not None

    hive = str(tmp_path / "hive")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k bigint, day string"
    ).write.partitionBy("day").parquet(hive)

    mixed = tmp_path / "mixed"
    mixed.mkdir()
    pq.write_table(pa.table({"k": [1]}), str(mixed / "a.parquet"))
    pq.write_table(pa.table({"k": [2], "extra": ["x"]}), str(mixed / "b.parquet"))

    unmapped = str(tmp_path / "unsigned.parquet")
    pq.write_table(pa.table({"u": pa.array([1, 2], type=pa.uint32())}), unmapped)

    ntz = str(tmp_path / "ntz")
    spark.sql("SELECT timestamp_ntz'2024-01-01 00:00:00' t").write.parquet(ntz)

    def assert_infers(path):
        assert _footer_schema(spark, path)[0] is None, path
        df, jobs = _run_counting_jobs(spark, lambda: read_parquet(spark, path))
        assert jobs >= 1, path
        assert df.schema == spark.read.parquet(path).schema, path

    for path in ("file://" + flat, hive, str(mixed), unmapped, ntz):
        assert_infers(path)

    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        assert_infers(flat)
    finally:
        spark.conf.set(key, prev)


def test_stream_reader_takes_the_footer_schema(spark, tmp_path):
    """``read_parquet_stream`` builds its stream from the footer schema:
    no inference job, and the batch read's schema, nanos conversion
    included."""
    import pandas as pd

    from feast_ibm_spark.sources.reader import read_parquet, read_parquet_stream

    p = str(tmp_path / "events.parquet")
    pd.DataFrame(
        {
            "k": [1, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00.000000001", "2024-01-02 00:00:00.000000000"]
            ),
        }
    ).to_parquet(p)
    stream, jobs = _run_counting_jobs(spark, lambda: read_parquet_stream(spark, p))
    assert jobs == 0
    assert stream.isStreaming
    assert stream.schema == read_parquet(spark, p).schema


def test_snapshot_manifest_semantics(spark, tmp_path):
    """sources/snapshots.py contract: numbered versions over immutable
    segments; append creates a NEW version while every old version
    rereads exactly its committed rows (time travel); the manifest
    rename is the commit point, so an uncommitted .tmp manifest (a
    crashed writer) is invisible; bad versions and fresh tables raise
    rather than guess."""
    import json
    import os

    import pytest as _pytest

    from feast_ibm_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )

    path = str(tmp_path / "snap_table")
    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, path)
    assert snapshot_versions(path) == []

    v1 = write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, s string"),
        path,
    )
    v2 = write_snapshot(
        spark.createDataFrame([(3, "c")], "id bigint, s string"), path
    )
    assert (v1, v2) == (1, 2)
    assert snapshot_versions(path) == [1, 2]

    # time travel: v1 is exactly the pre-append table; latest sees all
    assert {r.id for r in read_snapshot(spark, path, 1).collect()} == {1, 2}
    assert {r.id for r in read_snapshot(spark, path).collect()} == {1, 2, 3}

    # crashed writer: a .tmp manifest (and its orphan segment) must be
    # invisible to readers and to the version list
    os.makedirs(os.path.join(path, "data", "seg-000099"), exist_ok=True)
    with open(os.path.join(path, "_snapshots", "v000099.json.tmp"), "w") as f:
        json.dump({"version": 99, "segments": ["data/seg-000099"]}, f)
    assert snapshot_versions(path) == [1, 2]
    assert {r.id for r in read_snapshot(spark, path).collect()} == {1, 2, 3}

    with _pytest.raises(ValueError):
        read_snapshot(spark, path, 7)


def test_snapshot_batch_writer_is_idempotent_on_batch_id(spark, tmp_path):
    """write_snapshot_batch: a REPLAYED micro-batch (same batchId —
    Structured Streaming re-runs the last uncommitted batch after a
    crash) must return the existing version and commit nothing new;
    distinct batchIds append monotonically."""
    from feast_ibm_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
        write_snapshot_batch,
    )

    path = str(tmp_path / "sink_table")
    b0 = spark.createDataFrame([(1,)], "id bigint")
    b1 = spark.createDataFrame([(2,)], "id bigint")
    assert write_snapshot_batch(b0, path, batch_id=0) == 1
    assert write_snapshot_batch(b1, path, batch_id=1) == 2
    # retry of batch 1: same version back, no third commit, content flat
    assert write_snapshot_batch(b1, path, batch_id=1) == 2
    assert snapshot_versions(path) == [1, 2]
    assert {r.id for r in read_snapshot(spark, path).collect()} == {1, 2}
    assert {r.id for r in read_snapshot(spark, path, 1).collect()} == {1}


def test_snapshot_overwrite_and_vacuum_lifecycle(spark, tmp_path):
    """Overwrite commits replace the visible segment set while older
    versions stay time-travelable; vacuum keeps the newest N versions,
    deletes only segments no KEPT manifest references (append chains
    share segments with the latest, so vacuum is a no-op there), and a
    vacuumed version then raises instead of returning partial data."""
    import pytest as _pytest

    from feast_ibm_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
        vacuum_snapshots,
        write_snapshot,
    )

    mk = lambda *ids: spark.createDataFrame([(i,) for i in ids], "id bigint")

    # append-only chain: vacuum deletes nothing (all segments shared);
    # since round 12 appends are DELTA manifests, so the kept version's
    # resolution chain (v1, a few bytes) survives too — and stays
    # readable, because its segments are a subset of the kept ones
    p1 = str(tmp_path / "appendy")
    write_snapshot(mk(1), p1)
    write_snapshot(mk(2), p1)
    assert vacuum_snapshots(p1, keep_last=1) == (0, 0)
    assert snapshot_versions(p1) == [1, 2]
    assert {r.id for r in read_snapshot(spark, p1).collect()} == {1, 2}

    # overwrite chain: old segment becomes unreferenced and reclaimable
    p2 = str(tmp_path / "rewrites")
    write_snapshot(mk(1, 2), p2)
    write_snapshot(mk(9), p2, mode="overwrite")
    assert {r.id for r in read_snapshot(spark, p2).collect()} == {9}
    assert {r.id for r in read_snapshot(spark, p2, 1).collect()} == {1, 2}
    assert vacuum_snapshots(p2, keep_last=1) == (1, 1)
    assert {r.id for r in read_snapshot(spark, p2).collect()} == {9}
    with _pytest.raises(ValueError):
        read_snapshot(spark, p2, 1)  # vacuumed: loud, not partial

    with _pytest.raises(ValueError):
        write_snapshot(mk(1), p2, mode="replace")
    with _pytest.raises(ValueError):
        vacuum_snapshots(p2, keep_last=0)


def test_snapshot_compaction_and_schema_evolution(spark, tmp_path):
    """compact_snapshots rewrites the latest segment chain into ONE
    segment as a new overwrite commit (contents identical, history
    intact until vacuum); appends that ADD a column read back
    NULL-padded for old segments (mergeSchema) instead of silently
    dropping the new column."""
    from feast_ibm_spark.sources.snapshots import (
        compact_snapshots,
        read_snapshot,
        snapshot_versions,
        vacuum_snapshots,
        write_snapshot,
    )

    path = str(tmp_path / "evolving")
    write_snapshot(spark.createDataFrame([(1,)], "id bigint"), path)
    # schema evolution: v2 adds a column
    write_snapshot(
        spark.createDataFrame([(2, "x")], "id bigint, tag string"), path
    )
    got = {(r.id, r.tag) for r in read_snapshot(spark, path).collect()}
    assert got == {(1, None), (2, "x")}  # old rows NULL-padded
    # v1 time travel still shows the old schema's data
    assert {r.id for r in read_snapshot(spark, path, 1).collect()} == {1}

    v3 = compact_snapshots(spark, path)
    assert v3 == 3 and snapshot_versions(path) == [1, 2, 3]
    got3 = {(r.id, r.tag) for r in read_snapshot(spark, path).collect()}
    assert got3 == got  # identical contents, one segment
    import os
    segs = os.listdir(os.path.join(path, "data"))
    assert len(segs) == 3  # two originals + the compacted one (pre-GC)
    assert vacuum_snapshots(path, keep_last=1) == (2, 2)
    assert {(r.id, r.tag)
            for r in read_snapshot(spark, path).collect()} == got


def test_snapshot_retry_paves_over_orphan_segment(spark, tmp_path):
    """ADVICE r10 (medium): a writer that crashes BETWEEN the segment
    write and the manifest publish leaves an orphaned data/ directory
    for the next (uncommitted) version. The retry must make progress
    past the orphan and commit — the old errorifexists segment write
    wedged the table permanently here. Since the round-11
    optimistic-concurrency work, segment names carry a writer nonce,
    so the retry cannot even collide with the orphan; the orphan stays
    invisible (only a CAS-published manifest makes a segment visible)
    until vacuum reclaims it."""
    from feast_ibm_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
        write_snapshot,
        write_snapshot_batch,
    )

    path = str(tmp_path / "crashy")
    write_snapshot(spark.createDataFrame([(1,)], "id bigint"), path)
    # simulate the crash window: v2's segment exists (stale rows), no
    # manifest published
    spark.createDataFrame([(99,)], "id bigint").write.parquet(
        str(tmp_path / "crashy" / "data" / "seg-000002")
    )
    assert snapshot_versions(path) == [1]
    # plain writer retry: commits v2 with the RETRY's rows, not 99
    v = write_snapshot(spark.createDataFrame([(2,)], "id bigint"), path)
    assert v == 2
    assert {r.id for r in read_snapshot(spark, path).collect()} == {1, 2}

    # same window for the foreachBatch sink: batch replay after a crash
    # between segment write and manifest rename must make progress
    spark.createDataFrame([(98,)], "id bigint").write.parquet(
        str(tmp_path / "crashy" / "data" / "seg-000003")
    )
    v = write_snapshot_batch(
        spark.createDataFrame([(3,)], "id bigint"), path, batch_id=7
    )
    assert v == 3
    assert {r.id for r in read_snapshot(spark, path).collect()} == {1, 2, 3}
    # and the idempotent path still short-circuits
    assert write_snapshot_batch(
        spark.createDataFrame([(3,)], "id bigint"), path, batch_id=7
    ) == 3


def test_snapshot_vacuum_skips_in_flight_segment(spark, tmp_path):
    """ADVICE r10: vacuum must never reclaim a segment numbered BEYOND
    the newest committed version — that is an in-flight writer's
    uncommitted segment, and deleting it would let the writer publish
    a manifest pointing at deleted data."""
    import os

    from feast_ibm_spark.sources.snapshots import (
        vacuum_snapshots,
        write_snapshot,
    )

    path = str(tmp_path / "inflight")
    write_snapshot(spark.createDataFrame([(1, 2)], "id bigint, v bigint"),
                   path)
    write_snapshot(spark.createDataFrame([(9, 9)], "id bigint, v bigint"),
                   path, mode="overwrite")
    # in-flight append: v3's segment written, manifest not yet renamed
    spark.createDataFrame([(3, 3)], "id bigint, v bigint").write.parquet(
        os.path.join(path, "data", "seg-000003")
    )
    dropped, deleted = vacuum_snapshots(path, keep_last=1)
    assert (dropped, deleted) == (1, 1)  # v1 manifest + v1's orphan only
    assert os.path.isdir(os.path.join(path, "data", "seg-000003"))


def test_snapshot_lifecycle_through_hadoop_fs(spark, tmp_path):
    """VERDICT r10 item 4: the metadata commit protocol runs through the
    fsio facade; the HadoopFS implementation (JVM FileSystem API) is
    exercised against file:// — the same code path a real hdfs:// URI
    takes. Full lifecycle: append, time travel, overwrite, batch
    idempotence, vacuum."""
    from feast_ibm_spark.sources.fsio import HadoopFS, get_fs
    from feast_ibm_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
        vacuum_snapshots,
        write_snapshot,
        write_snapshot_batch,
    )

    path = "file://" + str(tmp_path / "hdfs_like")
    assert isinstance(get_fs(path, spark), HadoopFS)
    write_snapshot(spark.createDataFrame([(1,)], "id bigint"), path)
    write_snapshot(spark.createDataFrame([(2,)], "id bigint"), path)
    assert snapshot_versions(path, spark) == [1, 2]
    assert {r.id for r in read_snapshot(spark, path, 1).collect()} == {1}
    assert {r.id for r in read_snapshot(spark, path).collect()} == {1, 2}
    write_snapshot(spark.createDataFrame([(9,)], "id bigint"), path,
                   mode="overwrite")
    assert write_snapshot_batch(
        spark.createDataFrame([(4,)], "id bigint"), path, batch_id=0
    ) == 4
    assert write_snapshot_batch(
        spark.createDataFrame([(4,)], "id bigint"), path, batch_id=0
    ) == 4  # replay: idempotent through the JVM route too
    dropped, deleted = vacuum_snapshots(path, keep_last=2, spark=spark)
    assert dropped == 2 and deleted >= 1
    assert {r.id for r in read_snapshot(spark, path).collect()} == {9, 4}


def test_ivm_refresh_through_hadoop_fs(spark, tmp_path):
    """The IVM ledger commit protocol through the same HadoopFS route:
    two refreshes + a replayed refresh_id over file://."""
    from pyspark.sql import functions as F

    from feast_ibm_spark.operators.incremental import (
        read_agg,
        refresh_additive_agg,
    )

    base = "file://" + str(tmp_path / "ivm_state")
    s1 = spark.createDataFrame([("a", 100), ("a", 200), ("b", 50)],
                               "k string, cents bigint")
    s2 = spark.createDataFrame([("a", 300)], "k string, cents bigint")
    assert refresh_additive_agg(spark, base, s1, ["k"], F.col("cents"), "d1")
    assert refresh_additive_agg(spark, base, s2, ["k"], F.col("cents"), "d2")
    # replay: no-op
    assert not refresh_additive_agg(spark, base, s2, ["k"],
                                    F.col("cents"), "d2")
    got = {(r.k, r.n, r.sum_value) for r in read_agg(spark, base).collect()}
    assert got == {("a", 3, 6.0), ("b", 1, 0.5)}


def test_fsio_refuses_object_store_schemes(spark):
    """fsio: object stores have no atomic rename — the commit protocol
    must refuse them loudly, not commit unsafely (VERDICT r10 item 4)."""
    import pytest as _pytest

    from feast_ibm_spark.sources.fsio import LocalFS, get_fs

    assert isinstance(get_fs("/plain/posix/path"), LocalFS)
    for scheme in ("s3a", "gs", "abfss", "cos"):
        with _pytest.raises(ValueError, match="atomic rename"):
            get_fs(f"{scheme}://bucket/table", spark)
    with _pytest.raises(ValueError, match="SparkSession"):
        get_fs("hdfs://nn/table", None)


def test_snapshot_change_data_feed_semantics(spark, tmp_path):
    """read_snapshot_changes: the delta between two versions is the
    segment-list difference, tagged per introducing commit; an
    overwrite inside the range is refused loudly (insert-only CDF is
    undefined across it); from==to yields an empty frame with the
    right schema; bad versions raise."""
    import pytest as _pytest

    from feast_ibm_spark.sources.snapshots import (
        read_snapshot_changes,
        write_snapshot,
    )

    mk = lambda *ids: spark.createDataFrame([(i,) for i in ids], "id bigint")
    path = str(tmp_path / "cdf")
    write_snapshot(mk(1), path)
    write_snapshot(mk(2, 3), path)
    write_snapshot(mk(4), path)

    got = {(r.id, r._commit_version)
           for r in read_snapshot_changes(spark, path, 1).collect()}
    assert got == {(2, 2), (3, 2), (4, 3)}
    got = {(r.id, r._commit_version)
           for r in read_snapshot_changes(spark, path, 2, 3).collect()}
    assert got == {(4, 3)}

    empty = read_snapshot_changes(spark, path, 3, 3)
    assert empty.count() == 0
    assert "_commit_version" in empty.columns

    with _pytest.raises(ValueError, match="not in"):
        read_snapshot_changes(spark, path, 9)
    with _pytest.raises(ValueError, match="to_version"):
        read_snapshot_changes(spark, path, 3, 1)

    # overwrite inside the range: refused, not silently wrong
    write_snapshot(mk(9), path, mode="overwrite")
    with _pytest.raises(ValueError, match="not an append"):
        read_snapshot_changes(spark, path, 1)
    # ...but a range that stops before it still works
    assert read_snapshot_changes(spark, path, 1, 3).count() == 3


def test_snapshot_merge_semantics(spark, tmp_path):
    """merge_snapshot: keyed upserts update in place, new keys insert,
    delete-flagged keys drop (including deletes of absent keys — a
    no-op), duplicate update keys are rejected loudly (SQL MERGE
    semantics), and the pre-merge version stays time-travelable."""
    import pytest as _pytest

    from feast_ibm_spark.sources.snapshots import (
        merge_snapshot,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "mrg")
    write_snapshot(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id bigint, v string"
        ),
        path,
    )
    v = merge_snapshot(
        spark.createDataFrame(
            # update 1, insert 4, delete 2, delete-absent 9 (no-op)
            [(1, "A", False), (4, "d", False), (2, "b", True),
             (9, "x", True)],
            "id bigint, v string, del boolean",
        ),
        path,
        ["id"],
        delete_col="del",
    )
    assert v == 2
    got = {(r.id, r.v) for r in read_snapshot(spark, path).collect()}
    assert got == {(1, "A"), (3, "c"), (4, "d")}
    # pre-merge version unchanged
    got1 = {(r.id, r.v) for r in read_snapshot(spark, path, 1).collect()}
    assert got1 == {(1, "a"), (2, "b"), (3, "c")}

    with _pytest.raises(ValueError, match="duplicate merge keys"):
        merge_snapshot(
            spark.createDataFrame(
                [(1, "p", False), (1, "q", False)],
                "id bigint, v string, del boolean",
            ),
            path,
            ["id"],
            delete_col="del",
        )


def test_snapshot_consume_ack_semantics(spark, tmp_path):
    """consume_snapshot_changes / ack_snapshot_consume: a fresh consumer
    reads the whole table tagged per commit; WITHOUT an ack the same
    delta comes back (at-least-once on crash); after ack only new
    commits arrive; caught-up consumers get an empty frame; a cursor
    ahead of the table is refused (wrong/rebuilt table)."""
    import pytest as _pytest

    from feast_ibm_spark.sources.snapshots import (
        ack_snapshot_consume,
        consume_snapshot_changes,
        write_snapshot,
    )

    mk = lambda *ids: spark.createDataFrame([(i,) for i in ids], "id bigint")
    path = str(tmp_path / "tbl")
    cons = str(tmp_path / "cursors" / "c1.json")
    write_snapshot(mk(1), path)
    write_snapshot(mk(2), path)

    v, df = consume_snapshot_changes(spark, path, cons)
    got = {(r.id, r._commit_version) for r in df.collect()}
    assert v == 2 and got == {(1, 1), (2, 2)}
    # no ack -> crash replay sees the identical delta
    v2, df2 = consume_snapshot_changes(spark, path, cons)
    assert v2 == 2
    assert {(r.id, r._commit_version) for r in df2.collect()} == got

    ack_snapshot_consume(cons, v)
    write_snapshot(mk(3), path)
    v3, df3 = consume_snapshot_changes(spark, path, cons)
    assert v3 == 3
    assert {(r.id, r._commit_version)
            for r in df3.collect()} == {(3, 3)}
    ack_snapshot_consume(cons, v3)
    v4, df4 = consume_snapshot_changes(spark, path, cons)
    assert v4 == 3 and df4.count() == 0
    assert "_commit_version" in df4.columns

    ack_snapshot_consume(cons, 99)
    with _pytest.raises(ValueError, match="ahead of the table"):
        consume_snapshot_changes(spark, path, cons)


def test_pipeline_crash_between_commit_and_ack_is_exactly_once(spark, tmp_path):
    """pipeline_snapshot_changes crash analysis, the hard window: the
    downstream batch COMMITTED but the consumer ack did not land. The
    retry re-consumes the same delta (cursor unmoved) and must find the
    batch_id already committed and NOT double-write — downstream holds
    exactly one copy; the ack then lands and a further cycle is a
    no-op."""
    from feast_ibm_spark.sources.snapshots import (
        consume_snapshot_changes,
        pipeline_snapshot_changes,
        read_snapshot,
        snapshot_versions,
        write_snapshot,
        write_snapshot_batch,
    )

    up = str(tmp_path / "up")
    down = str(tmp_path / "down")
    cur = str(tmp_path / "cursor.json")
    write_snapshot(
        spark.createDataFrame([(1,), (2,)], "id bigint"), up
    )

    ident = lambda df: df

    # crash simulation: do the consume + downstream commit by hand,
    # "crash" before ack
    v, delta = consume_snapshot_changes(spark, up, cur)
    write_snapshot_batch(ident(delta), down, batch_id=v)
    # restart: the full pipeline cycle runs again from the stale cursor
    assert pipeline_snapshot_changes(spark, up, cur, down, ident) == 1
    assert snapshot_versions(down) == [1]  # no second commit
    got = {(r.id, r._commit_version)
           for r in read_snapshot(spark, down).collect()}
    assert got == {(1, 1), (2, 1)}  # exactly one copy

    # caught-up cycle: no-op, no downstream version churn
    assert pipeline_snapshot_changes(spark, up, cur, down, ident) == 1
    assert snapshot_versions(down) == [1]

    # new upstream commit flows through as its own downstream batch
    write_snapshot(spark.createDataFrame([(3,)], "id bigint"), up)
    assert pipeline_snapshot_changes(spark, up, cur, down, ident) == 2
    got = {(r.id, r._commit_version)
           for r in read_snapshot(spark, down).collect()}
    assert got == {(1, 1), (2, 1), (3, 2)}


def test_snapshot_tombstone_lifecycle(spark, tmp_path):
    """delete_snapshot_keys: tombstones suppress immediately (all
    segments AND later appends — no resurrection), pre-delete versions
    stay time-travelable, compaction materializes physically (clean
    manifest, tombstones cleared so the key can re-insert), CDF refuses
    a range crossing a tombstone commit, vacuum keeps referenced
    tombstone files, and mismatched key columns are rejected."""
    import pytest as _pytest

    from feast_ibm_spark.sources.snapshots import (
        compact_snapshots,
        delete_snapshot_keys,
        read_snapshot,
        read_snapshot_changes,
        vacuum_snapshots,
        write_snapshot,
    )

    mk = lambda *pairs: spark.createDataFrame(list(pairs), "id bigint, v string")
    path = str(tmp_path / "mor")
    write_snapshot(mk((1, "a"), (2, "b")), path)                     # v1
    v = delete_snapshot_keys(
        spark.createDataFrame([(2,)], "id bigint"), path, ["id"]
    )                                                                # v2
    assert v == 2
    assert {r.id for r in read_snapshot(spark, path).collect()} == {1}
    # time travel: pre-delete version intact
    assert {r.id for r in read_snapshot(spark, path, 1).collect()} == {1, 2}
    # append must NOT resurrect the tombstoned key
    write_snapshot(mk((2, "zombie"), (3, "c")), path)                # v3
    assert {r.id for r in read_snapshot(spark, path).collect()} == {1, 3}

    # CDF across the tombstone commit: refused, not silently wrong
    with _pytest.raises(ValueError, match="tombstone"):
        read_snapshot_changes(spark, path, 1)
    # a range that avoids it works (v2 -> v3 added seg only)
    assert {r.id for r in
            read_snapshot_changes(spark, path, 2, 3).collect()} == {2, 3}

    # mismatched tombstone key columns rejected
    with _pytest.raises(ValueError, match="key columns"):
        delete_snapshot_keys(
            spark.createDataFrame([("x",)], "v string"), path, ["v"]
        )

    # vacuum keeps tombstones referenced by kept manifests (and, since
    # round 12, the kept delta manifest's whole base chain — manifests
    # are bytes; every data file stays referenced by the kept resolution)
    dropped, deleted = vacuum_snapshots(path, keep_last=1)
    assert (dropped, deleted) == (0, 0)  # all 3 segs + del file still live
    assert {r.id for r in read_snapshot(spark, path).collect()} == {1, 3}

    # compaction materializes: physical rows drop, tombstones clear,
    # the key can re-insert afterwards
    v4 = compact_snapshots(spark, path)
    got = {(r.id, r.v) for r in read_snapshot(spark, path, v4).collect()}
    assert got == {(1, "a"), (3, "c")}
    write_snapshot(mk((2, "reborn")), path)
    assert {r.id for r in read_snapshot(spark, path).collect()} == {1, 2, 3}


def test_snapshot_concurrent_writers_serialize_without_loss(spark, tmp_path):
    """Optimistic multi-writer commits (round 11): four threads racing
    three appends each against one table must serialize into twelve
    distinct versions with NO lost update — every batch readable in the
    final version, every intermediate manifest a superset of its
    predecessor. The commit point is fsio.write_text_exclusive (posix
    hardlink CAS); a lost race rebuilds against the new latest manifest
    and retries."""
    import threading

    from feast_ibm_spark.sources.snapshots import (
        read_snapshot,
        snapshot_versions,
        write_snapshot,
    )

    path = str(tmp_path / "multi")
    n_writers, n_commits = 4, 3
    errors = []

    def writer(wid: int):
        try:
            for i in range(n_commits):
                df = spark.createDataFrame(
                    [(wid, i)], "writer bigint, batch bigint"
                )
                write_snapshot(df, path)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,))
               for w in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []

    total = n_writers * n_commits
    assert snapshot_versions(path) == list(range(1, total + 1))
    got = {(r.writer, r.batch)
           for r in read_snapshot(spark, path).collect()}
    assert got == {(w, i) for w in range(n_writers)
                   for i in range(n_commits)}  # no lost update
    # every version's segment list strictly extends its predecessor's
    import json as _json
    import os as _os
    # RESOLVED manifests (append commits are delta manifests since
    # round 12 — raw files carry only their own add_segments)
    from feast_ibm_spark.sources.fsio import LocalFS
    from feast_ibm_spark.sources.snapshots import _resolve_manifest

    _fs, _cache = LocalFS(), {}
    segs_by_v = {}
    for v in range(1, total + 1):
        m = _resolve_manifest(_fs, path, v, _cache)
        segs_by_v[v] = m["segments"]
        assert len(m["segments"]) == v
        if v > 1:
            assert set(segs_by_v[v - 1]) < set(m["segments"])


def test_fsio_write_text_exclusive_cas_semantics(tmp_path):
    """The CAS primitive itself: first publish wins, the loser sees
    False and the winner's content survives intact; no temp debris."""
    import os

    from feast_ibm_spark.sources.fsio import LocalFS

    fs = LocalFS()
    p = str(tmp_path / "commit.json")
    assert fs.write_text_exclusive(p, "winner")
    assert not fs.write_text_exclusive(p, "loser")
    assert fs.read_text(p) == "winner"
    leftovers = [f for f in os.listdir(tmp_path) if ".tmp." in f]
    assert leftovers == []


def test_cdf_survives_certified_compaction(spark, tmp_path):
    """VERDICT r11 item 2: a compact_snapshots commit carries the
    compaction_of certificate, so the change data feed treats it as a
    row-identical NO-OP instead of refusing — an incremental consumer
    keeps running across the maintenance operation the module itself
    prescribes. Appends after the compaction flow normally; a
    pre-compaction cursor still reads the original small segments; a
    FORGED certificate (wrong base) refuses loudly; a genuine
    overwrite still refuses."""
    import json
    import os

    import pytest as _pytest

    from feast_ibm_spark.sources.snapshots import (
        ack_snapshot_consume,
        compact_snapshots,
        consume_snapshot_changes,
        read_snapshot_changes,
        write_snapshot,
    )

    mk = lambda *ids: spark.createDataFrame([(i,) for i in ids], "id bigint")
    path = str(tmp_path / "cdf_compact")
    write_snapshot(mk(1), path)        # v1
    write_snapshot(mk(2, 3), path)     # v2
    consumer = str(tmp_path / "cur")
    latest, delta = consume_snapshot_changes(spark, path, consumer)
    assert latest == 2 and delta.count() == 3
    ack_snapshot_consume(consumer, latest)

    assert compact_snapshots(spark, path) == 3      # certified no-op
    write_snapshot(mk(4), path)                     # v4 append

    # consumer parked at v2 sails across the compaction: only v4's rows
    latest, delta = consume_snapshot_changes(spark, path, consumer)
    got = {(r.id, r._commit_version) for r in delta.collect()}
    assert latest == 4 and got == {(4, 4)}
    ack_snapshot_consume(consumer, latest)

    # pre-compaction range still reads the original segments
    got = {(r.id, r._commit_version)
           for r in read_snapshot_changes(spark, path, 1, 4).collect()}
    assert got == {(2, 2), (3, 2), (4, 4)}
    # range ending AT the compaction: no new rows
    assert read_snapshot_changes(spark, path, 2, 3).count() == 0

    # forged certificate: compaction_of must name the chain predecessor
    mf_path = os.path.join(path, "_snapshots", "v000003.json")
    mf = json.load(open(mf_path))
    mf["compaction_of"] = 1
    open(mf_path, "w").write(json.dumps(mf))
    with _pytest.raises(ValueError, match="certificate"):
        read_snapshot_changes(spark, path, 1, 4)
    mf["compaction_of"] = 2
    open(mf_path, "w").write(json.dumps(mf))

    # a genuine overwrite (no certificate) still refuses
    write_snapshot(mk(9), path, mode="overwrite")
    with _pytest.raises(ValueError, match="not an append"):
        read_snapshot_changes(spark, path, 2)


def test_batch_ledger_bounds_idempotency_scan(spark, tmp_path):
    """VERDICT r11 item 3: write_snapshot_batch's replay probe reads the
    newest manifest's bounded (batch_id, version) ledger instead of
    walking the whole chain — replays dedup through the ledger (even
    across a compaction, which carries it forward), the ledger is
    capped, and a legacy chain (manifests without a ledger) falls back
    to the exhaustive walk."""
    import json
    import os

    from feast_ibm_spark.sources.snapshots import (
        _BATCH_LEDGER_KEEP,
        compact_snapshots,
        read_snapshot,
        snapshot_versions,
        write_snapshot_batch,
    )

    mk = lambda i: spark.createDataFrame([(i,)], "id bigint")
    path = str(tmp_path / "ledger")
    assert write_snapshot_batch(mk(1), path, batch_id=10) == 1
    assert write_snapshot_batch(mk(2), path, batch_id=11) == 2
    # replay: same version back, no new commit
    assert write_snapshot_batch(mk(2), path, batch_id=11) == 2
    assert snapshot_versions(path) == [1, 2]

    # the ledger survives compaction, so a replay right after still dedups
    v3 = compact_snapshots(spark, path)
    assert write_snapshot_batch(mk(2), path, batch_id=11) == 2
    assert snapshot_versions(path) == [1, 2, v3]

    mf = json.load(open(os.path.join(path, "_snapshots", "v000003.json")))
    assert mf["recent_batches"] == [[10, 1], [11, 2]]

    # ledger is bounded: drive past the cap and check the newest manifest
    for i in range(_BATCH_LEDGER_KEEP + 5):
        write_snapshot_batch(mk(100 + i), path, batch_id=100 + i)
    latest = snapshot_versions(path)[-1]
    mf = json.load(open(
        os.path.join(path, "_snapshots", f"v{latest:06d}.json")))
    assert len(mf["recent_batches"]) == _BATCH_LEDGER_KEEP

    # a batch OLDER than the ledger window dedups via the fallback walk
    assert write_snapshot_batch(mk(1), path, batch_id=10) == 1
    assert snapshot_versions(path)[-1] == latest  # no new commit

    # legacy chain: strip the ledger everywhere — the exhaustive walk
    # still finds the committed batch
    for v in snapshot_versions(path):
        p = os.path.join(path, "_snapshots", f"v{v:06d}.json")
        m = json.load(open(p))
        m.pop("recent_batches", None)
        open(p, "w").write(json.dumps(m))
    assert write_snapshot_batch(mk(2), path, batch_id=11) == 2
    assert read_snapshot(spark, path).count() > 0


def test_read_modify_write_conflict_detection(spark, tmp_path):
    """ADVICE r11 (medium): merge_snapshot pins the version it read —
    a concurrent append between the read and the commit raises
    SnapshotConflictError instead of silently re-publishing the stale
    rewrite (which would discard the interleaved rows). Compaction
    auto-retries against the new latest and loses nothing."""
    import pytest as _pytest

    from feast_ibm_spark.sources import snapshots as S

    mk = lambda *rows: spark.createDataFrame(list(rows), "id bigint, v string")
    path = str(tmp_path / "rmw")
    S.write_snapshot(mk((1, "a"), (2, "b")), path)

    # simulate the interleaved writer by racing inside _commit_version:
    # patch write_text_exclusive to let an append land first, once
    real_commit = S._commit_version

    def sneak_append_then_commit(df, p, mode, **kw):
        if kw.get("base_version") is not None and not sneak_append_then_commit.done:
            sneak_append_then_commit.done = True
            S.write_snapshot(mk((3, "c")), path)  # interleaved append
        return real_commit(df, p, mode, **kw)

    sneak_append_then_commit.done = False
    S._commit_version, patched = sneak_append_then_commit, S._commit_version
    try:
        with _pytest.raises(S.SnapshotConflictError, match="re-run"):
            S.merge_snapshot(mk((2, "B")), path, ["id"])
    finally:
        S._commit_version = patched
    # nothing lost: the interleaved append is intact, merge never landed
    got = {(r.id, r.v) for r in S.read_snapshot(spark, path).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    # the merge re-run against the new latest succeeds
    S.merge_snapshot(mk((2, "B")), path, ["id"])
    got = {(r.id, r.v) for r in S.read_snapshot(spark, path).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}

    # compaction under the same interleave: auto-retries, loses nothing
    S._commit_version, patched = sneak_append_then_commit, S._commit_version
    sneak_append_then_commit.done = False
    try:
        v = S.compact_snapshots(spark, path)
    finally:
        S._commit_version = patched
    mfs = S.snapshot_versions(path)
    assert v == mfs[-1]
    got = {(r.id, r.v) for r in S.read_snapshot(spark, path).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_pipeline_crash_window_no_double_delivery(spark, tmp_path):
    """ADVICE r11 (medium): a pipeline crash BETWEEN the downstream
    commit and the ack, followed by a NEW upstream commit before the
    retry, must not double-deliver the already-committed delta. The
    retry derives the effective cursor from the downstream batch
    ledger and repairs the cursor file before consuming."""
    from feast_ibm_spark.sources.snapshots import (
        consume_snapshot_changes,
        pipeline_snapshot_changes,
        read_snapshot,
        write_snapshot,
        write_snapshot_batch,
    )

    mk = lambda *ids: spark.createDataFrame([(i,) for i in ids], "id bigint")
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    cur = str(tmp_path / "cursor")
    ident = lambda df: df.select("id")

    write_snapshot(mk(1), src)                     # upstream v1
    pipeline_snapshot_changes(spark, src, cur, dst, ident)  # cycle 1 OK

    write_snapshot(mk(2), src)                     # upstream v2
    # crash window: commit downstream (batch_id=2) but NEVER ack
    _, delta = consume_snapshot_changes(spark, src, cur)
    write_snapshot_batch(ident(delta), dst, batch_id=2)
    # a new upstream commit lands before the retry
    write_snapshot(mk(3), src)                     # upstream v3

    # the retry must deliver ONLY v3's rows downstream
    assert pipeline_snapshot_changes(spark, src, cur, dst, ident) == 3
    got = sorted(r.id for r in read_snapshot(spark, dst).collect())
    assert got == [1, 2, 3]  # each exactly once


def test_consume_empty_upstream_is_noop(spark, tmp_path):
    """ADVICE r11 (low): consuming a table that hasn't had its first
    commit is a no-op (empty delta, version 0), not a crash — for the
    raw CDF read, the consumer, and the pipeline."""
    from feast_ibm_spark.sources.snapshots import (
        consume_snapshot_changes,
        pipeline_snapshot_changes,
        read_snapshot_changes,
    )

    src = str(tmp_path / "never_committed")
    assert read_snapshot_changes(spark, src, 0, 0).count() == 0
    latest, delta = consume_snapshot_changes(
        spark, src, str(tmp_path / "cur"))
    assert latest == 0 and delta.count() == 0
    v = pipeline_snapshot_changes(
        spark, src, str(tmp_path / "cur2"), str(tmp_path / "dst"),
        lambda df: df,
    )
    assert v == 0
    import os
    assert not os.path.exists(str(tmp_path / "dst"))  # nothing committed


def test_hadoop_atomic_write_overwrites_existing(spark, tmp_path):
    """ADVICE r11 (medium): HadoopFS.write_text_atomic must replace an
    existing destination (HDFS rename-no-overwrite returns false there)
    — the consumer cursor is rewritten on EVERY ack, so the second ack
    on a hadoop-routed path used to fail forever. Exercised against
    file:// — the same code path a real hdfs:// URI takes."""
    from feast_ibm_spark.sources.fsio import get_fs

    p = "file://" + str(tmp_path / "cursor.json")
    fs = get_fs(p, spark)
    fs.write_text_atomic(p, '{"version": 1}')
    fs.write_text_atomic(p, '{"version": 2}')  # the second ack
    assert fs.read_text(p) == '{"version": 2}'


def test_hadoop_double_ack_end_to_end(spark, tmp_path):
    """The full consume→ack→consume→ack cycle over a hadoop-routed
    (file://) consumer path — the exact sequence ADVICE r11 said
    failed on the second ack."""
    from feast_ibm_spark.sources.snapshots import (
        ack_snapshot_consume,
        consume_snapshot_changes,
        write_snapshot,
    )

    mk = lambda *ids: spark.createDataFrame([(i,) for i in ids], "id bigint")
    path = str(tmp_path / "tbl")
    consumer = "file://" + str(tmp_path / "hdfs_cursor")
    write_snapshot(mk(1), path)
    latest, delta = consume_snapshot_changes(spark, path, consumer)
    assert delta.count() == 1
    ack_snapshot_consume(consumer, latest, spark)
    write_snapshot(mk(2), path)
    latest, delta = consume_snapshot_changes(spark, path, consumer)
    assert {r.id for r in delta.collect()} == {2}
    ack_snapshot_consume(consumer, latest, spark)  # the second ack
    latest, delta = consume_snapshot_changes(spark, path, consumer)
    assert delta.count() == 0


def test_chain_needs_build_wipes_partial(spark, tmp_path):
    """ADVICE r11 (low): the shared chain builders wipe a PARTIAL chain
    (crash mid-build) instead of appending duplicate slices onto it."""
    from feast_ibm_spark.queries.pipelines import _chain_needs_build
    from feast_ibm_spark.sources.snapshots import (
        snapshot_versions,
        write_snapshot,
    )

    dest = str(tmp_path / "chain")
    assert _chain_needs_build(dest, 3)          # fresh: build
    write_snapshot(
        spark.createDataFrame([(1,)], "id bigint"), dest)  # crash after v1
    assert _chain_needs_build(dest, 3)          # partial: wiped
    assert snapshot_versions(dest) == []        # gone, safe to rebuild
    for i in range(3):
        write_snapshot(spark.createDataFrame([(i,)], "id bigint"), dest)
    assert not _chain_needs_build(dest, 3)      # complete: reused


def test_delta_manifests_bound_metadata_growth(spark, tmp_path):
    """Round 12 manifest tier: append commits write DELTA manifests
    (O(1) bytes) with a FULL checkpoint every _FULL_EVERY-th commit, so
    per-commit metadata no longer restates the whole segment list.
    Reads, time travel, and the CDF resolve identically across the
    checkpoint boundary; vacuum keeps resolution chains intact."""
    import json
    import os

    from feast_ibm_spark.sources.fsio import LocalFS
    from feast_ibm_spark.sources.snapshots import (
        _FULL_EVERY,
        _resolve_manifest,
        read_snapshot,
        read_snapshot_changes,
        snapshot_versions,
        write_snapshot,
    )

    mk = lambda i: spark.createDataFrame([(i,)], "id bigint")
    path = str(tmp_path / "deltas")
    n = _FULL_EVERY + 8  # crosses the first full checkpoint
    for i in range(1, n + 1):
        write_snapshot(mk(i), path)

    raw = {
        v: json.load(open(os.path.join(path, "_snapshots", f"v{v:06d}.json")))
        for v in snapshot_versions(path)
    }
    fulls = [v for v, m in raw.items() if "delta_base" in m] and [
        v for v, m in raw.items() if "segments" in m
    ]
    assert fulls == [1, _FULL_EVERY + 1]  # v1 + the depth-32 checkpoint
    # delta manifests carry ONE segment each — O(1) bytes per commit
    for v, m in raw.items():
        if "delta_base" in m:
            assert m["delta_base"] == v - 1
            assert len(m["add_segments"]) == 1
            assert "segments" not in m
    # the checkpoint restates everything; bytes on disk stay bounded
    sizes = {
        v: os.path.getsize(os.path.join(path, "_snapshots", f"v{v:06d}.json"))
        for v in raw
    }
    assert sizes[n] < sizes[_FULL_EVERY + 1]  # last delta << the checkpoint

    # content identical across the boundary: full read, time travel, CDF
    assert {r.id for r in read_snapshot(spark, path).collect()} == set(
        range(1, n + 1))
    assert {r.id for r in read_snapshot(spark, path, _FULL_EVERY - 1)
            .collect()} == set(range(1, _FULL_EVERY))
    got = {(r.id, r._commit_version) for r in read_snapshot_changes(
        spark, path, _FULL_EVERY - 2).collect()}
    assert got == {(i, i) for i in range(_FULL_EVERY - 1, n + 1)}
    # resolution is exact at every version
    fs, cache = LocalFS(), {}
    for v in snapshot_versions(path):
        assert len(_resolve_manifest(fs, path, v, cache)["segments"]) == v


def test_delta_manifests_legacy_chain_compat(spark, tmp_path):
    """A pre-round-12 table (every manifest full, no delta fields) keeps
    working: new appends write deltas on top of the legacy fulls, and
    reads/CDF resolve across the old/new boundary."""
    import json
    import os

    from feast_ibm_spark.sources.fsio import LocalFS
    from feast_ibm_spark.sources.snapshots import (
        _resolve_manifest,
        read_snapshot,
        read_snapshot_changes,
        snapshot_versions,
        write_snapshot,
    )

    mk = lambda i: spark.createDataFrame([(i,)], "id bigint")
    path = str(tmp_path / "legacy")
    for i in (1, 2, 3):
        write_snapshot(mk(i), path)
    # rewrite every manifest as a pre-r12 FULL manifest
    fs = LocalFS()
    for v in snapshot_versions(path):
        full = _resolve_manifest(fs, path, v)
        full = {k: v2 for k, v2 in full.items()
                if k in ("version", "segments", "deletes", "delete_keys")}
        open(os.path.join(path, "_snapshots", f"v{v:06d}.json"),
             "w").write(json.dumps(full))

    write_snapshot(mk(4), path)  # a post-upgrade delta append
    m4 = json.load(open(os.path.join(path, "_snapshots", "v000004.json")))
    assert m4["delta_base"] == 3 and m4["delta_depth"] == 1
    assert {r.id for r in read_snapshot(spark, path).collect()} == {1, 2, 3, 4}
    got = {(r.id, r._commit_version)
           for r in read_snapshot_changes(spark, path, 2).collect()}
    assert got == {(3, 3), (4, 4)}


def test_partition_overwrite_lifecycle(spark, tmp_path):
    """Dynamic partition overwrite (round 12): partition-tagged appends,
    a metadata-level partition swap (untouched partitions' segments are
    byte-identical directories before and after), partition-pruned
    reads, time travel across the swap, CDF refusal across it, vacuum
    reclaiming replaced segments, and the compaction-discards-tags
    refusal."""
    import json
    import os

    import pytest as _pytest

    from feast_ibm_spark.sources.snapshots import (
        compact_snapshots,
        overwrite_snapshot_partitions,
        read_snapshot,
        read_snapshot_changes,
        read_snapshot_partitions,
        snapshot_versions,
        vacuum_snapshots,
        write_snapshot_partitioned,
    )

    mk = lambda rows: spark.createDataFrame(rows, "day string, id bigint")
    path = str(tmp_path / "parts")
    v1 = write_snapshot_partitioned(
        mk([("mon", 1), ("mon", 2), ("tue", 3)]), path, "day")
    v2 = write_snapshot_partitioned(mk([("wed", 4)]), path, "day")
    assert (v1, v2) == (1, 2)
    assert {(r.day, r.id) for r in read_snapshot(spark, path).collect()} == {
        ("mon", 1), ("mon", 2), ("tue", 3), ("wed", 4)}

    # partition column is enforced table-wide
    with _pytest.raises(ValueError, match="partition column"):
        write_snapshot_partitioned(
            mk([("x", 9)]).withColumnRenamed("day", "other"), path, "other")

    # the backfill: replace ONLY partition 'mon'
    before = {
        s for s in os.listdir(os.path.join(path, "data"))
    }
    v3 = overwrite_snapshot_partitions(mk([("mon", 10)]), path, "day")
    got = {(r.day, r.id) for r in read_snapshot(spark, path).collect()}
    assert got == {("mon", 10), ("tue", 3), ("wed", 4)}
    # metadata-level swap: tue/wed segment DIRECTORIES are untouched
    mf = json.load(open(os.path.join(path, "_snapshots", f"v{v3:06d}.json")))
    kept = [s for s in mf["segments"]
            if mf["segment_partitions"][s] in ("tue", "wed")]
    assert all(os.path.basename(s) in before for s in kept)
    # time travel: the pre-swap table is intact
    assert {(r.day, r.id) for r in read_snapshot(spark, path, 2).collect()
            } == {("mon", 1), ("mon", 2), ("tue", 3), ("wed", 4)}

    # partition-pruned read: only the asked-for partitions' segments
    pruned = read_snapshot_partitions(spark, path, ["mon"])
    assert {(r.day, r.id) for r in pruned.collect()} == {("mon", 10)}
    assert len(pruned.inputFiles()) < len(
        read_snapshot(spark, path).inputFiles())
    with _pytest.raises(ValueError, match="not in the table"):
        read_snapshot_partitions(spark, path, ["thu"])

    # CDF refuses across the swap (rows were replaced, not added)
    with _pytest.raises(ValueError, match="not an append"):
        read_snapshot_changes(spark, path, 1)
    # ...but the pre-swap range still feeds
    assert read_snapshot_changes(spark, path, 1, 2).count() == 1

    # vacuum reclaims the replaced mon segments once manifests age out
    dropped, deleted = vacuum_snapshots(path, keep_last=1)
    assert deleted == 1  # exactly v1's replaced 'mon' segment is dead;
    # tue (v1) and wed (v2) stay referenced by the kept resolution
    assert {(r.day, r.id) for r in read_snapshot(spark, path).collect()
            } == {("mon", 10), ("tue", 3), ("wed", 4)}

    # compaction collapses to one untagged segment: partition overwrite
    # then refuses until the table is rebuilt partitioned
    compact_snapshots(spark, path)
    with _pytest.raises(ValueError, match="partition-tagged"):
        overwrite_snapshot_partitions(mk([("tue", 9)]), path, "day")


def test_snapshot_segment_stats_skipping(spark, tmp_path):
    """Manifest zone maps (round 12): commits with stats_cols record
    per-segment [min, max]; read_snapshot_between skips non-overlapping
    segments from the manifest alone (inputFiles proves it), boundary
    rows are INCLUSIVE both ends, stats survive delta resolution,
    stat-less segments are conservatively scanned, and the exact filter
    re-applies on top."""
    import datetime

    from feast_ibm_spark.sources.snapshots import (
        compact_snapshots,
        read_snapshot,
        read_snapshot_between,
        write_snapshot,
    )

    def mk(lo, n):
        base = datetime.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [(lo + i, base + datetime.timedelta(days=lo + i))
             for i in range(n)],
            "id bigint, ts timestamp",
        )

    path = str(tmp_path / "zones")
    write_snapshot(mk(0, 5), path, stats_cols=["ts", "id"])    # days 0-4
    write_snapshot(mk(5, 5), path, stats_cols=["ts", "id"])    # days 5-9
    write_snapshot(mk(10, 5), path, stats_cols=["ts", "id"])   # days 10-14

    full_files = len(read_snapshot(spark, path).inputFiles())
    base = datetime.datetime(2024, 1, 1)
    win = read_snapshot_between(
        spark, path, "ts",
        base + datetime.timedelta(days=5), base + datetime.timedelta(days=9),
    )
    assert {r.id for r in win.collect()} == set(range(5, 10))  # inclusive
    assert len(win.inputFiles()) < full_files  # segments truly skipped

    # numeric stats prune the same way; empty window -> empty + schema
    assert {r.id for r in read_snapshot_between(
        spark, path, "id", 12, 99).collect()} == {12, 13, 14}
    none = read_snapshot_between(spark, path, "id", 100, 200)
    assert none.count() == 0 and set(none.columns) == {"id", "ts"}

    # a stat-less segment is scanned conservatively, answer still exact
    write_snapshot(mk(15, 5), path)  # no stats_cols
    got = {r.id for r in read_snapshot_between(
        spark, path, "id", 14, 16).collect()}
    assert got == {14, 15, 16}

    # compaction rewrites into one stat-less segment: unpruned but exact
    compact_snapshots(spark, path)
    got = {r.id for r in read_snapshot_between(
        spark, path, "id", 3, 6).collect()}
    assert got == {3, 4, 5, 6}


def test_snapshot_datasource(spark, tmp_path):
    """The fis_snapshot Python DataSource (round 12b): batch reads with
    time travel and schema evolution, the Structured-Streaming tail
    whose offsets are table versions (checkpointed resume delivers
    exactly the new rows; a certified compaction flows through as a
    no-op), _commit_version tagging on both paths, MOR-tombstone
    refusal on the batch path, and the insert-only refusal surfacing
    through a streaming drain that crosses an overwrite."""
    import pytest as _pytest

    from feast_ibm_spark.sources.snapshot_datasource import (
        register_snapshot_datasource,
    )
    from feast_ibm_spark.sources.snapshots import (
        compact_snapshots,
        delete_snapshot_keys,
        write_snapshot,
    )

    register_snapshot_datasource(spark)
    path = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    write_snapshot(
        spark.createDataFrame([(1, "a")], "k bigint, v string"), path
    )
    write_snapshot(  # additive schema evolution
        spark.createDataFrame([(2, "b", 1.5)],
                              "k bigint, v string, w double"), path
    )

    # batch: latest with evolution + tagging; time travel via option
    out = spark.read.format("fis_snapshot").load(path)
    assert sorted((r.k, r.v, r.w, r._commit_version)
                  for r in out.collect()) == [(1, "a", None, 1),
                                              (2, "b", 1.5, 2)]
    v1 = spark.read.format("fis_snapshot").option("version", 1).load(path)
    assert [(r.k, r.w) for r in v1.collect()] == [(1, None)]

    def drain():
        q = (
            spark.readStream.format("fis_snapshot").load(path)
            .writeStream.format("parquet").option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)

    drain()
    assert sorted((r.k, r._commit_version) for r in
                  spark.read.parquet(sink).collect()) == [(1, 1), (2, 2)]

    # append, certified compaction, append — the resumed tail sees
    # exactly the two genuinely new rows, versions intact
    write_snapshot(spark.createDataFrame([(3, "c")],
                                         "k bigint, v string"), path)
    compact_snapshots(spark, path)
    write_snapshot(spark.createDataFrame([(4, "d")],
                                         "k bigint, v string"), path)
    drain()
    assert sorted((r.k, r._commit_version) for r in
                  spark.read.parquet(sink).collect()) == [
        (1, 1), (2, 2), (3, 3), (4, 5)]

    # an uncertified overwrite breaks the insert-only contract: the
    # resumed drain refuses rather than silently re-reading the table
    write_snapshot(spark.createDataFrame([(9, "z")],
                                         "k bigint, v string"), path,
                   mode="overwrite")
    with _pytest.raises(Exception, match="insert-only"):
        drain()

    # WRITE paths (round 12b): the format writer commits through the
    # same CAS machinery — append versions, overwrite, schema
    # enforcement, footer-summed row counts, no staging residue
    from feast_ibm_spark.sources.snapshots import (
        SchemaEvolutionError,
        snapshot_row_count,
        snapshot_versions,
    )

    pw = str(tmp_path / "written")
    spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string") \
        .write.format("fis_snapshot").mode("append").save(pw)
    spark.createDataFrame([(3, "c")], "k bigint, v string") \
        .write.format("fis_snapshot").mode("append").save(pw)
    assert snapshot_versions(pw) == [1, 2]
    assert snapshot_row_count(pw) == 3  # footer-summed, no data read
    got = spark.read.format("fis_snapshot").load(pw)
    assert sorted((r.k, r.v, r._commit_version) for r in got.collect()) \
        == [(1, "a", 1), (2, "b", 1), (3, "c", 2)]
    with _pytest.raises(Exception, match="changes column types"):
        spark.createDataFrame([("x", "y")], "k string, v string") \
            .write.format("fis_snapshot").mode("append").save(pw)
    spark.createDataFrame([(9, "z")], "k bigint, v string") \
        .write.format("fis_snapshot").mode("overwrite").save(pw)
    assert [r.k for r in spark.read.format("fis_snapshot")
            .load(pw).collect()] == [9]
    assert [d for d in __import__("os").listdir(f"{pw}/data")
            if d.startswith(".")] == []  # staging fully reclaimed

    # streaming SINK: epochs commit as ledgered batch versions
    # (exactly-once); a re-drain with no new data commits nothing
    src = str(tmp_path / "stream_src")
    ptbl = str(tmp_path / "stream_tbl")
    ck2 = str(tmp_path / "stream_ck")
    spark.createDataFrame([(1, "a")], "k bigint, v string") \
        .write.parquet(src)

    def sink_drain():
        q = (
            spark.readStream.schema("k bigint, v string").parquet(src)
            .writeStream.format("fis_snapshot").option("path", ptbl)
            .option("checkpointLocation", ck2)
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)

    sink_drain()
    sink_drain()  # no new data: no new version
    assert snapshot_versions(ptbl) == [1]
    spark.createDataFrame([(2, "b")], "k bigint, v string") \
        .write.mode("append").parquet(src)
    sink_drain()
    assert snapshot_versions(ptbl) == [1, 2]
    assert sorted(r.k for r in spark.read.format("fis_snapshot")
                  .load(ptbl).collect()) == [1, 2]

    # Catalyst filter pushdown (double opt-in: experimental conf +
    # option): a point lookup plans 1 partition instead of 3, results
    # identical; the plain reader (no option) is untouched by the conf
    pp = str(tmp_path / "pushdown")
    for r in range(3):
        # k interleaves across segments (only blooms can prune it);
        # v is range-disjoint per segment (zone maps prune it)
        write_snapshot(
            spark.createDataFrame(
                [(i, r * 1000 + i) for i in range(90) if i % 3 == r],
                "k bigint, v bigint",
            ),
            pp, bloom_cols=["k"], stats_cols=["v"],
        )
    conf_key = "spark.sql.python.filterPushdown.enabled"
    spark.conf.set(conf_key, "true")
    try:
        def fresh():
            return (spark.read.format("fis_snapshot")
                    .option("pushdown", "true").load(pp))

        hit = fresh().where("k = 41")  # bloom: 1 of 3 segments
        assert [(r.k, r.v) for r in hit.collect()] == [(41, 2041)]
        assert hit.rdd.getNumPartitions() == 1
        rng = fresh().where("v >= 2000")  # stats: 1 of 3 segments
        assert rng.count() == 30
        assert rng.rdd.getNumPartitions() == 1
        assert fresh().count() == 90  # filterless scan stays full
        # plain reader unaffected by the conf being on
        assert spark.read.format("fis_snapshot").load(pp).count() == 90
    finally:
        spark.conf.set(conf_key, "false")

    # a pre-round-12 table (no schema in the manifest) falls back to
    # merged segment-footer inference instead of refusing
    import json as _json

    p3 = str(tmp_path / "legacy")
    write_snapshot(spark.createDataFrame([(5, "e")],
                                         "k bigint, v string"), p3)
    mf = f"{p3}/_snapshots/v000001.json"
    raw = _json.load(open(mf))
    raw.pop("schema")
    open(mf, "w").write(_json.dumps(raw))
    legacy = spark.read.format("fis_snapshot").load(p3)
    assert [(r.k, r.v, r._commit_version)
            for r in legacy.collect()] == [(5, "e", 1)]

    # MOR tombstones refuse the batch path (no per-partition anti-join)
    p2 = str(tmp_path / "mor")
    write_snapshot(spark.createDataFrame([(1, "a"), (2, "b")],
                                         "k bigint, v string"), p2)
    delete_snapshot_keys(spark.createDataFrame([(1,)], "k bigint"),
                         p2, ["k"])
    with _pytest.raises(Exception, match="tombstones"):
        spark.read.format("fis_snapshot").load(p2).collect()


def test_timestamp_time_travel(spark, tmp_path):
    """Timestamp-based time travel (round 12b): every commit path
    stamps committed_at at its CAS point; snapshot_version_at resolves
    an instant to the newest version published at or before it, and
    read_snapshot(as_of=...) reads that version. Pre-feature manifests
    (no committed_at) resolve as epoch 0; an instant older than the
    table refuses; version and as_of are mutually exclusive."""
    import datetime
    import json as _json
    import time as _time

    import pytest as _pytest

    from feast_ibm_spark.sources.snapshots import (
        read_snapshot,
        snapshot_version_at,
        write_snapshot,
    )

    def mk(i):
        return spark.createDataFrame([(i,)], "id bigint")

    path = str(tmp_path / "ts_travel")
    write_snapshot(mk(1), path)
    _time.sleep(0.05)
    between = datetime.datetime.now(datetime.timezone.utc)
    _time.sleep(0.05)
    write_snapshot(mk(2), path)

    assert snapshot_version_at(path, between) == 1
    assert [r.id for r in read_snapshot(spark, path, as_of=between)
            .collect()] == [1]
    # future instant -> latest; naive datetime treated as UTC
    future = datetime.datetime.now() + datetime.timedelta(days=1)
    assert snapshot_version_at(path, future) == 2
    # epoch-seconds float accepted too
    assert snapshot_version_at(path, between.timestamp()) == 1

    with _pytest.raises(ValueError, match="first commit is newer"):
        snapshot_version_at(path, 0.0)
    with _pytest.raises(ValueError, match="not both"):
        read_snapshot(spark, path, version=1, as_of=between)

    # a pre-feature manifest (committed_at stripped) counts as epoch 0
    mf = f"{path}/_snapshots/v000001.json"
    raw = _json.load(open(mf))
    raw.pop("committed_at")
    open(mf, "w").write(_json.dumps(raw))
    assert snapshot_version_at(path, 0.0) == 1


def test_clustered_compaction(spark, tmp_path):
    """Range-clustered compaction (round 12b): appends interleave the
    sort dimension across segments (zone maps useless), the clustered
    rewrite separates it — the windowed read prunes AFTER compaction
    (a plain compaction destroys pruning forever). Rows are identical
    (a reorder, never a transformation), the compaction_of certificate
    lets the CDF flow across, tombstones materialize physically, the
    streaming batch ledger survives, metadata COUNT(*) still answers,
    and NULL/skewed sort keys don't break bucketing."""
    import pytest as _pytest

    from feast_ibm_spark.sources.snapshots import (
        compact_snapshots,
        delete_snapshot_keys,
        read_snapshot,
        read_snapshot_between,
        read_snapshot_changes,
        snapshot_row_count,
        snapshot_versions,
        write_snapshot,
        write_snapshot_batch,
    )

    def mk(residue):
        return spark.createDataFrame(
            [(i, f"v-{i}") for i in range(60) if i % 3 == residue],
            "id bigint, val string",
        )

    path = str(tmp_path / "clustered")
    for r in range(3):  # id ranges fully overlap across segments
        write_snapshot_batch(mk(r), path, batch_id=r + 1,
                             stats_cols=["id"])
    delete_snapshot_keys(
        spark.createDataFrame([(7,)], "id bigint"), path, ["id"]
    )

    # pre-compaction: stats exist but every segment covers [0, 59] —
    # a window prunes nothing
    pre = read_snapshot_between(spark, path, "id", 10, 19)
    full_files = len(read_snapshot(spark, path).inputFiles())
    assert len(pre.inputFiles()) == full_files

    v = compact_snapshots(spark, path, sort_by="id", target_segments=4)
    after = read_snapshot(spark, path, v)
    # row-identical (minus the materialized tombstone), order aside
    assert {r.id for r in after.collect()} == set(range(60)) - {7}
    assert snapshot_row_count(path) == 59  # fresh __rows, no tombstones
    # the same window now scans a strict subset of the segments
    win = read_snapshot_between(spark, path, "id", 10, 19)
    assert {r.id for r in win.collect()} == set(range(10, 20)) - {7}
    assert 0 < len(win.inputFiles()) < len(after.inputFiles())

    # CDF flows across the certified clustered compaction: a consumer
    # parked just before it sees the rewrite as a no-op, then only the
    # genuinely new post-compaction append
    assert read_snapshot_changes(spark, path, from_version=v - 1).count() == 0
    write_snapshot(
        spark.createDataFrame([(1000, "late")], "id bigint, val string"),
        path,
    )
    late = read_snapshot_changes(spark, path, from_version=v - 1)
    assert [r.id for r in late.collect()] == [1000]

    # ledger survives the rewrite: a replayed batch id resolves to its
    # already-committed version without a new commit
    n_versions = len(snapshot_versions(path))
    assert write_snapshot_batch(mk(2), path, batch_id=3) < v
    assert len(snapshot_versions(path)) == n_versions

    # refusals: bloom_cols with sort_by; bad target
    with _pytest.raises(ValueError, match="bloom_cols"):
        compact_snapshots(spark, path, sort_by="id", bloom_cols=["id"])
    with _pytest.raises(ValueError, match="target_segments"):
        compact_snapshots(spark, path, sort_by="id", target_segments=0)

    # skew/NULL robustness: constant + NULL sort keys collapse to one
    # bucket and still round-trip exactly
    p2 = str(tmp_path / "skewed")
    write_snapshot_batch(
        spark.createDataFrame([(1, 5), (2, 5), (3, None)],
                              "id bigint, k bigint"),
        p2, batch_id=1,
    )
    compact_snapshots(spark, p2, sort_by="k", target_segments=4)
    assert {(r.id, r.k) for r in read_snapshot(spark, p2).collect()} == {
        (1, 5), (2, 5), (3, None)
    }


def test_snapshot_bloom_lookup(spark, tmp_path):
    """Bloom-filter segment pruning (round 12b): commits with
    bloom_cols index key columns whose values INTERLEAVE across
    segments — exactly where zone maps prune nothing — and
    read_snapshot_lookup answers point lookups scanning only the
    segments that might hold the probe (inputFiles proves it; an
    absent key touches zero segments). The probe hash runs driver-side
    (hashlib) against bits built Spark-side (F.md5): a present key
    coming back AT ALL proves the two sides hash identically, because
    a mismatch would prune the key's own segment into a wrong empty
    answer. Bloom-less segments scan conservatively; tombstones still
    apply; non-int/str probes are refused."""
    import pytest as _pytest

    from feast_ibm_spark.sources.snapshots import (
        delete_snapshot_keys,
        read_snapshot,
        read_snapshot_lookup,
        write_snapshot,
    )

    def mk(residue):
        return spark.createDataFrame(
            [(i, f"name-{i}") for i in range(90) if i % 3 == residue],
            "id bigint, name string",
        )

    path = str(tmp_path / "blooms")
    for r in range(3):  # id ranges fully overlap: stats could not prune
        write_snapshot(mk(r), path, bloom_cols=["id", "name"])

    full_files = len(read_snapshot(spark, path).inputFiles())

    hit = read_snapshot_lookup(spark, path, "id", [41])
    assert [(r.id, r.name) for r in hit.collect()] == [(41, "name-41")]
    assert len(hit.inputFiles()) < full_files  # segments truly skipped

    # string-keyed probe through the same bits
    hit = read_snapshot_lookup(spark, path, "name", ["name-7", "name-8"])
    assert {r.id for r in hit.collect()} == {7, 8}

    # an absent key is (deterministically, md5 over fixed data) a
    # metadata answer: zero segments scanned, zero rows
    miss = read_snapshot_lookup(spark, path, "id", [10**9 + 7])
    assert miss.count() == 0 and len(miss.inputFiles()) == 0
    assert set(miss.columns) == {"id", "name"}  # full schema kept

    # a bloom-less append is conservatively scanned, answer exact
    write_snapshot(
        spark.createDataFrame([(1000, "late")], "id bigint, name string"),
        path,
    )
    assert [r.name for r in read_snapshot_lookup(
        spark, path, "id", [1000]).collect()] == ["late"]

    # merge-on-read tombstones suppress looked-up keys too
    delete_snapshot_keys(
        spark.createDataFrame([(41,)], "id bigint"), path, ["id"]
    )
    assert read_snapshot_lookup(spark, path, "id", [41]).count() == 0

    # refused probes: empty set, NULL, non-int/str (hash would differ)
    for bad in ([], [None], [1.5]):
        with _pytest.raises(ValueError):
            read_snapshot_lookup(spark, path, "id", bad)


def test_snapshot_schema_enforcement_and_metadata_count(spark, tmp_path):
    """Round 12: (a) an append that CHANGES an existing column's type is
    refused at the commit point with the column named (mergeSchema
    would otherwise poison every later scan); additive new columns and
    omitted columns stay allowed; overwrite replaces the schema. (b)
    snapshot_row_count answers COUNT(*) from the manifest alone when
    every segment recorded stats, and refuses (never lies) when a
    segment lacks counts or tombstones suppress rows."""
    import pytest as _pytest

    from feast_ibm_spark.sources.snapshots import (
        SchemaEvolutionError,
        delete_snapshot_keys,
        read_snapshot,
        snapshot_row_count,
        write_snapshot,
    )

    path = str(tmp_path / "enforced")
    write_snapshot(
        spark.createDataFrame([(1, "a")], "id bigint, tag string"),
        path, stats_cols=["id"])
    # type change refused, column named
    with _pytest.raises(SchemaEvolutionError, match="tag"):
        write_snapshot(
            spark.createDataFrame([(2, 5)], "id bigint, tag bigint"), path)
    # additive column + omitted column both fine
    write_snapshot(
        spark.createDataFrame([(2, 1.5)], "id bigint, score double"),
        path, stats_cols=["id"])
    got = {(r.id, r.tag, r.score)
           for r in read_snapshot(spark, path).collect()}
    assert got == {(1, "a", None), (2, None, 1.5)}

    # metadata-only COUNT(*): no data scan, exact
    assert snapshot_row_count(path) == 2
    assert snapshot_row_count(path, version=1) == 1

    # a stat-less segment makes the metadata count refuse
    write_snapshot(spark.createDataFrame([(3,)], "id bigint"), path)
    with _pytest.raises(ValueError, match="without recorded row counts"):
        snapshot_row_count(path)
    # ...but older fully-counted versions still answer
    assert snapshot_row_count(path, version=2) == 2

    # overwrite resets the schema: the old 'tag' type no longer binds
    write_snapshot(
        spark.createDataFrame([(9, 5)], "id bigint, tag bigint"),
        path, mode="overwrite", stats_cols=["id"])
    assert snapshot_row_count(path) == 1

    # live tombstones: metadata count refuses rather than overstating
    delete_snapshot_keys(
        spark.createDataFrame([(9,)], "id bigint"), path, ["id"])
    with _pytest.raises(ValueError, match="tombstones"):
        snapshot_row_count(path)


def test_round12_review_refusals_and_metadata_carry(spark, tmp_path):
    """Round-12 review closures: (a) merge_snapshot refuses a
    column-subset updates frame instead of silently destroying the
    omitted columns; (b) write_snapshot_partitioned refuses NULL
    partition values instead of silently dropping those rows; (c)
    read_snapshot_partitions refuses untagged segments like its write
    sibling; (d) a tombstone FULL checkpoint carries segment stats and
    partition tags forward instead of stripping them from the chain;
    (e) the all-pruned empty frame keeps the full evolved schema."""
    import pytest as _pytest

    from feast_ibm_spark.sources import snapshots as S

    # (a) merge column-subset refusal
    p = str(tmp_path / "m")
    S.write_snapshot(
        spark.createDataFrame([(1, "a", 5)], "id bigint, v string, extra bigint"), p)
    with _pytest.raises(ValueError, match="missing table columns"):
        S.merge_snapshot(
            spark.createDataFrame([(1, "B")], "id bigint, v string"), p, ["id"])

    # (b) NULL partition refusal
    p2 = str(tmp_path / "np")
    with _pytest.raises(ValueError, match="NULL"):
        S.write_snapshot_partitioned(
            spark.createDataFrame([("x", 1), (None, 2)], "day string, id bigint"),
            p2, "day")

    # (c) untagged-segment partition read refusal
    p3 = str(tmp_path / "mix")
    S.write_snapshot_partitioned(
        spark.createDataFrame([("mon", 1)], "day string, id bigint"), p3, "day")
    S.write_snapshot(
        spark.createDataFrame([("tue", 2)], "day string, id bigint"), p3)
    with _pytest.raises(ValueError, match="partition-tagged"):
        S.read_snapshot_partitions(spark, p3, ["mon"])

    # (d) tombstone commit at the FULL-checkpoint depth keeps stats+tags
    import json
    import os
    p4 = str(tmp_path / "carry")
    S.write_snapshot(
        spark.createDataFrame([(i,) for i in range(3)], "id bigint"),
        p4, stats_cols=["id"])
    # force the next commit onto the full-checkpoint path
    mfp = os.path.join(p4, "_snapshots", "v000001.json")
    mf = json.load(open(mfp))
    mf["delta_depth"] = S._FULL_EVERY  # simulate a deep chain tail
    open(mfp, "w").write(json.dumps(mf))
    S.delete_snapshot_keys(
        spark.createDataFrame([(0,)], "id bigint"), p4, ["id"])
    resolved = S._resolve_manifest(S.get_fs(p4), p4, 2)
    assert resolved.get("segment_stats"), "tombstone checkpoint dropped stats"
    # and the stats still answer after compaction clears the tombstone
    S.compact_snapshots(spark, p4)

    # (e) all-pruned empty frame carries the evolved schema
    p5 = str(tmp_path / "evolve")
    S.write_snapshot(
        spark.createDataFrame([(1,)], "id bigint"), p5, stats_cols=["id"])
    S.write_snapshot(
        spark.createDataFrame([(2, "x")], "id bigint, tag string"),
        p5, stats_cols=["id"])
    none = S.read_snapshot_between(spark, p5, "id", 100, 200)
    assert none.count() == 0 and set(none.columns) == {"id", "tag"}


def test_snapshot_stats_observed_on_write_match_standalone(spark, tmp_path):
    """r12 optimization: a stats/bloom commit collects its min/max/count
    via df.observe ON the segment write (one data pass) — the recorded
    manifest stats must be byte-identical to the standalone aggregate
    job's, including the None-min column-drop rule and the empty-segment
    edge, and the bloom (sized from the observed row count) must keep
    working."""
    from feast_ibm_spark.sources import snapshots as S

    df = spark.createDataFrame(
        [(i, f"u{i % 7}", None if i == 3 else i * 10) for i in range(50)],
        "id bigint, tag string, v bigint",
    )
    path = str(tmp_path / "obs")
    v = S.write_snapshot(df, path, stats_cols=["id", "v"], bloom_cols=["tag"])
    fs = S.get_fs(path, spark)
    mf = S._resolve_manifest(fs, path, v)
    recorded = next(iter(mf["segment_stats"].values()))
    standalone = S._segment_stats(df, ["id", "v"])
    assert recorded["id"] == standalone["id"]
    assert recorded["v"] == standalone["v"]
    assert recorded["__rows"] == standalone["__rows"] == 50
    assert "__bloom" in recorded and "tag" in recorded["__bloom"]

    # all-NULL stats column is dropped exactly like the standalone job
    df2 = spark.createDataFrame([(1, None), (2, None)], "id bigint, w bigint")
    p2 = str(tmp_path / "obs_null")
    v2 = S.write_snapshot(df2, p2, stats_cols=["w"])
    rec2 = next(iter(S._resolve_manifest(
        S.get_fs(p2, spark), p2, v2)["segment_stats"].values()))
    assert "w" not in rec2 and rec2["__rows"] == 2

    # empty segment: observed count 0, no column stats, commit succeeds
    p3 = str(tmp_path / "obs_empty")
    from pyspark.sql import functions as F
    v3 = S.write_snapshot(df.filter(F.lit(False)), p3, stats_cols=["id"])
    rec3 = next(iter(S._resolve_manifest(
        S.get_fs(p3, spark), p3, v3)["segment_stats"].values()))
    assert rec3 == {"__rows": 0}
