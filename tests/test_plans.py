"""Physical-plan shape assertions — the 100 TB contract, unit-tested.

For each operator we assert the plan property that matters at scale:
filters reach the parquet scan (PushedFilters), projections prune the
read schema (ReadSchema), small dimensions broadcast, and the PIT join
avoids a cartesian explosion."""

import pytest
from pyspark.sql import functions as F

from feast_ibm_spark.operators import FeatureViewSpec, point_in_time_join, time_range_scan
from feast_ibm_spark.plans.inspect import (
    explain_str,
    has_broadcast_join,
    pushed_filters,
    scan_columns,
)
from feast_ibm_spark.sources.reader import load_table


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_time_range_filter_is_pushed_down(spark, events):
    out = time_range_scan(
        events, ["user_id"], ["value"], "ts",
        "2024-01-05 00:00:00", "2024-01-06 00:00:00",
    )
    text = explain_str(out)
    cols_per_scan = scan_columns(out)
    assert cols_per_scan, "no scan found in plan"
    for cols in cols_per_scan:
        assert "event_type" not in cols and "props" not in cols, (
            "projection pruning failed: " + text
        )
    # the range predicate must be rewritten into raw-nanos space and
    # pushed to the parquet scan (row-group pruning at 100 TB)
    fs = pushed_filters(out)
    assert any("GreaterThanOrEqual(ts" in f for f in fs), fs
    assert any("LessThanOrEqual(ts" in f for f in fs), fs


def test_plain_parquet_filter_pushdown(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    out = part.filter(F.col("p_size") >= 25).select("p_partkey", "p_size")
    fs = pushed_filters(out)
    assert any("p_size" in f for f in fs), fs
    cols = scan_columns(out)[0]
    assert set(cols) == {"p_partkey", "p_size"}


def test_pit_join_broadcast_strategy_broadcasts(spark, events):
    spine = events.groupBy("user_id").agg(F.max("ts").alias("event_timestamp"))
    view = FeatureViewSpec(
        "v", events, ["user_id"], ["value"], "ts", ttl_seconds=86400
    )
    out = point_in_time_join(spine, [view], strategy="range_join")
    assert has_broadcast_join(out)
    text = explain_str(out)
    assert "CartesianProduct" not in text


def test_pit_union_window_has_no_join_blowup(spark, events):
    spine = events.groupBy("user_id").agg(F.max("ts").alias("event_timestamp"))
    view = FeatureViewSpec(
        "v", events, ["user_id"], ["value"], "ts", ttl_seconds=86400
    )
    out = point_in_time_join(spine, [view], strategy="union_window")
    text = explain_str(out)
    # the as-of matching itself is a window over a union - no range join
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text
    assert "Window" in text


def test_latest_per_key_single_shuffle(spark, events):
    from feast_ibm_spark.operators import latest_per_key
    from feast_ibm_spark.plans.inspect import count_shuffles

    out = latest_per_key(
        events, ["user_id"], ["value"], "ts", None,
        "2024-01-01 00:00:00", "2024-01-31 00:00:00",
    )
    # one shuffle for the window partitioning - no group-max self-join
    assert count_shuffles(out) == 1, explain_str(out)


def test_sessionize_single_shuffle(spark, events):
    from feast_ibm_spark.operators.sessionize import sessionize
    from feast_ibm_spark.plans.inspect import count_shuffles

    out = sessionize(events, ["user_id"], "ts", 7200, tiebreak_cols=["event_id"])
    # lag window, running-sum window and the final groupBy all reuse ONE
    # exchange on user_id
    assert count_shuffles(out) == 1, explain_str(out)


def test_broadcast_hint_survives_in_star_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    j = li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
    assert has_broadcast_join(j)


def test_partition_pruning_on_partitioned_table(spark, events, tmp_path_factory):
    """F3 (reference :665-667): a predicate on the partition column must
    prune directories, not filter rows post-scan — PartitionFilters in the
    scan node, and only the matching day read."""
    d = str(tmp_path_factory.mktemp("part") / "events_by_day")
    events.withColumn("day", F.date_format("ts", "yyyy-MM-dd")) \
        .write.partitionBy("day").mode("overwrite").parquet(d)

    df = spark.read.parquet(d).filter(F.col("day") == "2024-01-05") \
        .select("event_id", "value")
    text = explain_str(df)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
    assert m and "day" in m.group(1), text
    # count must equal a raw-filter count over the unpartitioned source
    expected = events.filter(
        F.date_format("ts", "yyyy-MM-dd") == "2024-01-05").count()
    assert df.count() == expected


def test_pit_join_date_partition_column_prunes_directories(
    spark, events, tmp_path_factory
):
    """FeatureViewSpec.date_partition_column (reference :665-667, :671-673):
    inside a PIT join over a date-partitioned feature layout, the injected
    string predicates must land as PartitionFilters on the feature scan —
    directory pruning, which the timestamp row-group filter alone cannot
    give when ts is not the partition key."""
    import re

    d = str(tmp_path_factory.mktemp("pitpart") / "events_by_day")
    events.withColumn("day", F.date_format("ts", "yyyy-MM-dd")) \
        .write.partitionBy("day").mode("overwrite").parquet(d)
    part_ev = spark.read.parquet(d)

    spine = events.groupBy("user_id").agg(F.max("ts").alias("event_timestamp"))
    view = FeatureViewSpec(
        "v", part_ev, ["user_id"], ["value"], "ts",
        ttl_seconds=86400, date_partition_column="day",
    )
    out = point_in_time_join(spine, [view])
    text = explain_str(out)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
    assert m and "day" in m.group(1), text
    # both bounds (hi always; lo because ttl != 0), reference :665-674
    assert re.search(r"day[^,\]]*<=", m.group(1)) or "LessThanOrEqual" in m.group(1), m.group(1)
    assert re.search(r"day[^,\]]*>=", m.group(1)) or "GreaterThanOrEqual" in m.group(1), m.group(1)
    # pruning must not change results vs the unpartitioned source
    view_plain = FeatureViewSpec(
        "v", events, ["user_id"], ["value"], "ts", ttl_seconds=86400
    )
    plain = point_in_time_join(spine, [view_plain])
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, plain.collect()))


def test_pit_strategies_absorb_hot_key_skew(spark):
    """Hot-key behavior of the PIT range join's two sides (broadcast and
    shuffle, by ``auto_broadcast_rows``) and the melt, pinned on a
    spine whose source routes 50% of ALL events to one user (sf0.01:
    ~42k rows on one key).

    Measured findings (NOTES.md "PIT skew"):
    - AQE's OptimizeSkewedJoin can NEVER split the shuffle side's
      candidate join: the rule pattern-matches SMJ(Sort(ShuffleStage),
      Sort(ShuffleStage)), but the spine side always has the dedup
      aggregate (A2, reference :626-636) between its shuffle and the join
      — verified with forceOptimizeSkewedJoin=true and 16KB thresholds.
      The hot key is instead absorbed by the in-partition sort (spills,
      completes; a straggler at extreme scale).
    - The broadcast side is the skew-resilient path: the feature side
      never shuffles on the key (BroadcastHashJoin against the spine), and
      the rn=1 window runs a map-side PARTIAL WindowGroupLimit before its
      exchange — each task ships at most one row per (key, ts) group, so
      a hot key's fanout never crosses the wire.
    All three must return identical results on the skewed input.
    """
    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    skewed = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(F.col("user_id")),
    )
    spine = skewed.groupBy("user_id").agg(F.max("ts").alias("event_timestamp"))
    view = FeatureViewSpec(
        "v", skewed, ["user_id"], ["value"], "ts",
        created_timestamp_column="event_id", ttl_seconds=7 * 86400,
    )
    results = {}
    plans = {}
    for strat, kwargs in (
        ("broadcast", {"strategy": "range_join"}),
        ("shuffle", {"strategy": "range_join", "auto_broadcast_rows": 0}),
        ("union_window", {"strategy": "union_window"}),
    ):
        out = point_in_time_join(spine, [view], **kwargs)
        results[strat] = sorted(map(tuple, out.collect()))
        plans[strat] = out._jdf.queryExecution().executedPlan().toString()
    assert results["shuffle"] == results["broadcast"]
    assert results["union_window"] == results["broadcast"]
    assert len(results["broadcast"]) == 150  # one spine row per user survives
    # the broadcast strategy's map-side skew absorber must be in the plan
    assert "WindowGroupLimit" in plans["broadcast"]
    assert "Partial" in plans["broadcast"], plans["broadcast"][:3000]


def _melt_shape(df):
    """(sorted keys of the exchanges that feed a melt union, Window nodes,
    parquet FileScans) of ``df``'s physical plan."""
    import re

    text = explain_str(df, "simple")
    union_keys = re.findall(
        r"Exchange hashpartitioning\(([^)]*), \d+\)[^\n]*\n[ :+-]*Union\n", text
    )
    return (
        sorted(re.sub(r"#\d+L?", "", k) for k in union_keys),
        len(re.findall(r"\bWindow \[", text)),
        text.count("FileScan parquet"),
    )


def test_pit_melt_one_exchange_per_key_set(spark, sf_dir):
    """Views on one join-key set melt together: two views over two loads
    of the same feature table plan ONE key exchange over the melt union,
    ONE Window and ONE scan of the table; views on two key sets plan two
    of each; a single view gains no exchange from the fusion."""
    from datetime import datetime

    from feast_ibm_spark.plans.inspect import count_shuffles

    spine = spark.createDataFrame(
        [(1, 5, datetime(2024, 1, 10)), (2, 9, datetime(2024, 1, 20))],
        "user_id bigint, event_id bigint, event_timestamp timestamp",
    )
    ev_a, ev_b = (load_table(spark, sf_dir, "events") for _ in range(2))
    a = FeatureViewSpec("a", ev_a, ["user_id"], ["value"], "ts")
    b = FeatureViewSpec(
        "b", ev_b, ["user_id"], ["event_type"], "ts", ttl_seconds=3 * 86400
    )
    c = FeatureViewSpec("c", ev_b, ["event_id"], ["event_type"], "ts")

    single = point_in_time_join(spine, [a])
    same_keys = point_in_time_join(spine, [a, b])
    two_keys = point_in_time_join(spine, [a, c], full_feature_names=True)
    assert _melt_shape(single) == (["user_id"], 1, 1)
    assert _melt_shape(same_keys) == (["user_id"], 1, 1), explain_str(same_keys)
    assert _melt_shape(two_keys) == (["event_id", "user_id"], 2, 2)
    # the one-view melt plan: the key-prune distinct and the melt window;
    # the spine's own rows ride the melt, so no (keys, ts) distinct and
    # no join-back remain
    assert count_shuffles(single) == count_shuffles(same_keys) == 2


def test_pit_join_views_with_distinct_timestamp_fields(spark, events):
    """Per-view timestamp_field: two views over sources whose event-time
    columns have different names join onto one spine correctly."""
    from pyspark.sql import functions as SF

    ev2 = events.withColumnRenamed("ts", "feature_time") \
        .withColumnRenamed("value", "v2")
    spine = events.groupBy("user_id").agg(SF.max("ts").alias("event_timestamp"))
    v_a = FeatureViewSpec("a", events, ["user_id"], ["value"], "ts")
    v_b = FeatureViewSpec("b", ev2, ["user_id"], ["v2"], "feature_time")
    out = point_in_time_join(spine, [v_a, v_b], full_feature_names=True)
    row = out.limit(1).collect()[0]
    assert "a__value" in out.columns and "b__v2" in out.columns
    # both views see the same underlying data -> identical matched values
    sample = out.select("a__value", "b__v2").limit(50).collect()
    assert all(r["a__value"] == r["b__v2"] for r in sample)


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path_factory):
    """Two tables bucketed on the join key with the same bucket count
    join with NO Exchange on either side — the write-once-shuffle-never
    co-location contract of sources/bucketed.py."""
    from feast_ibm_spark.plans.inspect import count_shuffles
    from feast_ibm_spark.sources.bucketed import bucketed_join_ready, write_bucketed

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    try:
        write_bucketed(orders, "t_orders_b", ["o_orderkey"], 4,
                       sort_cols=["o_orderkey"])
        write_bucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"),
                       "t_lineitem_b", ["o_orderkey"], 4,
                       sort_cols=["o_orderkey"])
        assert bucketed_join_ready(spark, "t_orders_b", "t_lineitem_b")

        a = spark.table("t_orders_b")
        b = spark.table("t_lineitem_b").select("o_orderkey", "l_quantity")
        # disable broadcast so the co-location (not a broadcast) is what
        # removes the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = a.join(b, "o_orderkey")
            assert count_shuffles(j) == 0, explain_str(j)
            # sanity: same join over the raw (unbucketed) sources shuffles
            raw = orders.join(
                li.select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity"),
                "o_orderkey",
            )
            assert count_shuffles(raw) >= 2
            assert j.count() == raw.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                           str(64 * 1024 * 1024))
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def _overlapping_files(d, u_lo, u_hi, v_lo, v_hi):
    """Count parquet files in dir ``d`` whose (user_id, value) footer
    min/max envelopes overlap the given 2-d box — the same stats that
    drive Spark row-group skipping and lakehouse file-skipping indexes."""
    import os

    import pyarrow.parquet as pq

    total, hit = 0, 0
    for name in os.listdir(d):
        if not name.endswith(".parquet"):
            continue
        total += 1
        md = pq.ParquetFile(os.path.join(d, name)).metadata
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.row_group(0).num_columns)
        }

        def lo(c):
            return min(md.row_group(g).column(cols[c]).statistics.min
                       for g in range(md.num_row_groups))

        def hi(c):
            return max(md.row_group(g).column(cols[c]).statistics.max
                       for g in range(md.num_row_groups))

        if (lo("user_id") <= u_hi and hi("user_id") >= u_lo
                and lo("value") <= v_hi and hi("value") >= v_lo):
            hit += 1
    return hit, total


def test_zorder_layout_prunes_multi_dim_predicates(spark, tmp_path_factory):
    """Physical-design contract of sources/layout.py: after Z-ordering by
    (user_id, quantized value), a conjunctive predicate over BOTH columns
    overlaps the min/max stats of only a small fraction of output files,
    while a single-column-sorted layout of the same data cannot prune on
    the second column. Checked directly against parquet footer stats
    (engine-agnostic — the same stats drive Spark's row-group skipping
    and any lakehouse file-skipping index)."""
    from feast_ibm_spark.sources.layout import quantize_col, write_zordered
    from feast_ibm_spark.sources.reader import load_table

    events = load_table(spark, "/root/testdata/sf0.01", "events")
    base = events.select("user_id", "value", "event_id")

    N_FILES = 64
    d_z = str(tmp_path_factory.mktemp("zorder") / "events_z")
    # both dimensions quantized to the SAME effective width (8 bits) —
    # see the zvalue_col warning: unequal widths let one column dominate
    write_zordered(
        base, d_z,
        [
            quantize_col("user_id", 0, 150, 8),
            quantize_col("value", 0.0, 200.0, 8),
        ],
        bits=8, n_files=N_FILES,
    )
    d_s = str(tmp_path_factory.mktemp("zorder") / "events_sorted")
    base.repartitionByRange(N_FILES, "user_id").sortWithinPartitions("user_id") \
        .write.mode("overwrite").parquet(d_s)

    overlapping_files = _overlapping_files

    FULL_U, FULL_V = (0, 10_000), (-1e9, 1e9)
    # Z-order's contract is BALANCED pruning: every z-ordered column
    # prunes on its own (with Morton-envelope dilution — a contiguous
    # curve segment of 1/F of the space spans ~sqrt(1/F) of each axis).
    # The single-column sort prunes user_id perfectly but its per-file
    # value envelope spans the whole range: a value-only predicate scans
    # every file. Measured at 64 files: user-only 17, value-only 31,
    # 2-d box 8 (vs 64/64 for value-only on the sorted layout).
    z_u, z_total = overlapping_files(d_z, 10, 24, *FULL_V)
    z_v, _ = overlapping_files(d_z, *FULL_U, 20.0, 40.0)
    s_v, s_total = overlapping_files(d_s, *FULL_U, 20.0, 40.0)
    assert z_total == N_FILES and s_total == N_FILES
    assert s_v == N_FILES, s_v               # user-sorted: value never prunes
    assert z_v <= int(N_FILES * 0.6), (z_v, z_total)  # z-order: value prunes
    assert z_u <= int(N_FILES * 0.4), (z_u, z_total)  # ...and user still prunes
    # and a 2-d box prunes at least as well as its best single dimension
    z_box, _ = overlapping_files(d_z, 10, 24, 20.0, 40.0)
    assert z_box <= min(z_u, z_v), (z_box, z_u, z_v)

    # layout must not change content
    assert spark.read.parquet(d_z).count() == base.count()


def _hilbert_xy2d(n, x, y):
    """Canonical rotate/reflect 2-D Hilbert index (the textbook xy2d) —
    the independent Python reference the Spark LUT fold is pinned to."""
    d, s = 0, n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_curve_is_bit_exact_and_continuous(spark):
    """hvalue_col (state-machine LUT fold) is bit-identical to the
    canonical rotate/reflect algorithm, and the curve has the property
    the layout buys its pruning from: consecutive indices are always
    Manhattan-distance 1 apart (Morton jumps across the space at every
    quadrant boundary; Hilbert never jumps)."""
    import random

    import pytest

    from feast_ibm_spark.sources.layout import hvalue_col

    # exhaustive at bits=4: bijection + continuity + reference equality
    bits, n = 4, 16
    pts = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(pts, "x bigint, y bigint")
    got = {(r.x, r.y): r.h
           for r in df.select("x", "y",
                              hvalue_col("x", "y", bits).alias("h")).collect()}
    assert all(got[p] == _hilbert_xy2d(n, *p) for p in pts)
    assert sorted(got.values()) == list(range(n * n))
    inv = {v: k for k, v in got.items()}
    assert all(
        abs(inv[d][0] - inv[d + 1][0]) + abs(inv[d][1] - inv[d + 1][1]) == 1
        for d in range(n * n - 1)
    )

    # random spot checks at the default and max supported widths
    for bits in (8, 16):
        n = 1 << bits
        random.seed(bits)
        rpts = [(random.randrange(n), random.randrange(n)) for _ in range(300)]
        rdf = spark.createDataFrame(rpts, "x bigint, y bigint")
        rgot = {(r.x, r.y): r.h
                for r in rdf.select(
                    "x", "y", hvalue_col("x", "y", bits).alias("h")).collect()}
        assert all(rgot[p] == _hilbert_xy2d(n, *p) for p in rpts), bits

    # width guard: past 16 the re-embedded state chain breaks codegen
    with pytest.raises(ValueError):
        hvalue_col("x", "y", 17)
    with pytest.raises(ValueError):
        hvalue_col("x", "y", 0)


def test_hilbert_layout_prunes_tighter_than_morton(spark, tmp_path_factory):
    """The continuity property pays off in file stats: clustering the
    same events by the Hilbert index of (user_id, quantized value)
    yields strictly fewer overlapping files than the Morton layout for
    every predicate class. Measured at 64 files on sf0.01: user-only
    14 vs 17, value-only 29 vs 31, 2-d box 5 vs 8."""
    from feast_ibm_spark.sources.layout import (
        quantize_col,
        write_hilbert_clustered,
        write_zordered,
    )
    from feast_ibm_spark.sources.reader import load_table

    events = load_table(spark, "/root/testdata/sf0.01", "events")
    base = events.select("user_id", "value", "event_id")
    N_FILES = 64
    qu = quantize_col("user_id", 0, 150, 8)
    qv = quantize_col("value", 0.0, 200.0, 8)
    d_h = str(tmp_path_factory.mktemp("hilbert") / "events_h")
    write_hilbert_clustered(base, d_h, qu, qv, bits=8, n_files=N_FILES)
    d_z = str(tmp_path_factory.mktemp("hilbert") / "events_z")
    write_zordered(base, d_z, [qu, qv], bits=8, n_files=N_FILES)

    FULL_U, FULL_V = (0, 10_000), (-1e9, 1e9)
    h_u, h_total = _overlapping_files(d_h, 10, 24, *FULL_V)
    h_v, _ = _overlapping_files(d_h, *FULL_U, 20.0, 40.0)
    h_box, _ = _overlapping_files(d_h, 10, 24, 20.0, 40.0)
    z_u, z_total = _overlapping_files(d_z, 10, 24, *FULL_V)
    z_v, _ = _overlapping_files(d_z, *FULL_U, 20.0, 40.0)
    z_box, _ = _overlapping_files(d_z, 10, 24, 20.0, 40.0)
    assert h_total == N_FILES and z_total == N_FILES
    # Hilbert prunes at least as well as Morton on every class (the data
    # and partitioner are deterministic, so these are stable), and the
    # 2-d box — the workload both layouts exist for — strictly better
    assert h_u <= z_u, (h_u, z_u)
    assert h_v <= z_v, (h_v, z_v)
    assert h_box < z_box, (h_box, z_box)
    # absolute pruning quality, same thresholds as the z-order contract
    assert h_u <= int(N_FILES * 0.4), (h_u, h_total)
    assert h_v <= int(N_FILES * 0.6), (h_v, h_total)
    assert h_box <= min(h_u, h_v), (h_box, h_u, h_v)
    # layout must not change content
    assert spark.read.parquet(d_h).count() == base.count()


def test_sample_stratified_is_map_only(spark, sf_dir):
    """Stratified sampling is a pure filter: NO Exchange in the plan, so
    it composes with any downstream partitioning at 100 TB for free."""
    from feast_ibm_spark.operators.sampling import sample_stratified
    from feast_ibm_spark.plans.inspect import count_shuffles

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = sample_stratified(docs, "doc_id", {"en": 0.2, "de": 0.5}, "lang")
    assert count_shuffles(out) == 0
    assert out.count() > 0


def test_profile_approx_mode_has_no_expand(spark, sf_dir):
    """exact=True pays an Expand (input duplicated per distinct column —
    fine for the oracle gate, wrong at scale); exact=False must plan a
    single-pass partial aggregate with HLL++ sketches instead."""
    from feast_ibm_spark.operators.profile import profile_columns
    from feast_ibm_spark.plans.inspect import explain_str

    ev = load_table(spark, sf_dir, "events")
    cols = dict(num_cols=("user_id", "value"), str_cols=("event_type",))
    assert "Expand" in explain_str(profile_columns(ev, exact=True, **cols))
    approx = profile_columns(ev, exact=False, **cols)
    assert "Expand" not in explain_str(approx)
    got = {r["col"]: r for r in approx.collect()}
    exact = {r["col"]: r for r in profile_columns(ev, exact=True, **cols).collect()}
    for c in got:
        assert got[c]["n_null"] == exact[c]["n_null"]
        assert got[c]["min_num"] == exact[c]["min_num"]
        # HLL++ distinct within its documented error envelope
        if exact[c]["n_distinct"]:
            rel = abs(got[c]["n_distinct"] - exact[c]["n_distinct"]) / exact[c]["n_distinct"]
            assert rel < 0.1, (c, got[c]["n_distinct"], exact[c]["n_distinct"])


def test_minhash_band_index_computed_once(spark, sf_dir):
    """The Arrow banded-signature stage must run exactly ONCE in the
    default (guarded) plan: round 5's collect_list + map-side expansion
    feeds a single aggregate, so the guard adds no second signature
    pass and no persist (the rejected designs — count window, hot-set
    anti-join, checkpointed index — each re-ran or re-read it, measured
    1.6-2x). The unguarded self-join path keeps the round-4 property:
    with broadcast disabled (the at-scale SMJ shape) AQE computes the
    signature stage once and REUSES it across the canonically identical
    branches."""
    import re

    from feast_ibm_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")

    pairs = minhash_lsh_pairs(docs, n=3, threshold=0.5)
    pairs.collect()
    final = pairs._jdf.queryExecution().executedPlan().toString()
    # AQE's toString appends the pre-adaptive "Initial Plan" — count
    # signature stages only in the executed (current/final) section
    current = final.split("Initial Plan")[0]
    sig_stages = len(re.findall(r"ArrowEvalPython \[band_sigs", current))
    assert sig_stages == 1, f"{sig_stages} signature stages:\n{current[:2000]}"

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        pairs = minhash_lsh_pairs(docs, n=3, threshold=0.5,
                                  max_bucket_size=None)
        pairs.collect()
        final = pairs._jdf.queryExecution().executedPlan().toString()
        assert "Reused" in final, "band-index branches were not reused"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_auto_pit_melts_with_key_pruning(spark, events):
    """Round-4 auto policy: always melt; a broadcast-sized spine key-
    prunes the feature side with a LEFT SEMI join so the window shuffle
    carries only requested keys (the 100 TB property), and no as-of
    equi-join (the row-multiplying shape) appears in the plan."""
    spine = (
        events.groupBy("user_id").agg(F.max("ts").alias("event_timestamp"))
        .limit(20)
    )
    view = FeatureViewSpec(
        "v", events, ["user_id"], ["value"], "ts", ttl_seconds=7 * 86400
    )
    out = point_in_time_join(spine, [view], strategy="auto")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan[:2000]
    assert out.count() == spine.count()  # every spine row survives


def test_bucketed_feature_table_elides_pit_window_exchange(spark, sf_dir):
    """A feature table bucketed on its join key already carries
    hashpartitioning(key) out of the scan: the broadcast range join's
    feature lineage then plans WITHOUT the window exchange (measured two
    fewer Exchanges whole-plan than the identical raw-parquet run), and
    auto's bucketed carve-out, read from the source's plan with no label
    on the view, picks the range join over the melt — whose spine union
    would discard the bucketed distribution. With bucketed reads off the
    scan carries no partitioning, and auto melts."""
    import re

    from feast_ibm_spark.sources.bucketed import write_bucketed

    import shutil

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    # clean both the metastore entry AND any orphaned warehouse directory
    # (a managed-table location surviving a lost metastore blocks creation)
    spark.sql("DROP TABLE IF EXISTS pit_bucketed_feat")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/pit_bucketed_feat", ignore_errors=True)
    write_bucketed(ev, "pit_bucketed_feat", ["user_id"], 8,
                   sort_cols=["user_id", "ts"])
    bt = spark.table("pit_bucketed_feat")

    from datetime import datetime as TS
    spine = spark.createDataFrame(
        [(i, TS(2024, 1, 20)) for i in range(40)],
        "user_id bigint, event_timestamp timestamp")

    def n_exchanges(feats):
        view = FeatureViewSpec("v", feats, ["user_id"], ["value"], "ts",
                               ttl_seconds=30 * 86400)
        out = point_in_time_join(spine, [view], strategy="range_join")
        out.collect()
        return len(re.findall(
            r"Exchange", out._jdf.queryExecution().executedPlan().toString()))

    assert n_exchanges(bt) < n_exchanges(ev)

    # auto carve-out: a source bucketed on the join keys -> the broadcast
    # range join (WindowGroupLimit is its map-side marker; the melt has
    # none), through a rename too
    bview = FeatureViewSpec("v", bt, ["user_id"], ["value"], "ts",
                            ttl_seconds=30 * 86400)
    auto_out = point_in_time_join(spine, [bview], strategy="auto")
    auto_plan = auto_out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in auto_plan, auto_plan[:2000]
    renamed = FeatureViewSpec(
        "v", bt.withColumnRenamed("user_id", "uid"), ["user_id"], ["value"],
        "ts", ttl_seconds=30 * 86400, field_mapping={"uid": "user_id"})
    assert "WindowGroupLimit" in explain_str(
        point_in_time_join(spine, [renamed], strategy="auto"))
    from feast_ibm_spark.operators.pit_join import _bucketed_on_keys

    # the probe plans the source and runs no Spark job
    sc = spark.sparkContext
    sc.setJobGroup("pit_bucketing_probe", "bucketing probe")
    try:
        assert _bucketed_on_keys(FeatureViewSpec(
            "v", spark.table("pit_bucketed_feat"), ["user_id"], [], "ts"))
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert not sc.statusTracker().getJobIdsForGroup("pit_bucketing_probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # bucketed on a column that is not a join key, or not bucketed at all
    assert not _bucketed_on_keys(FeatureViewSpec("v", bt, ["value"], [], "ts"))
    assert not _bucketed_on_keys(FeatureViewSpec("v", ev, ["user_id"], [], "ts"))
    # bucketed reads off: the scan is unpartitioned and auto melts
    key = "spark.sql.sources.bucketing.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        off = FeatureViewSpec("v", spark.table("pit_bucketed_feat"), ["user_id"],
                              ["value"], "ts", ttl_seconds=30 * 86400)
        off_plan = explain_str(point_in_time_join(spine, [off], strategy="auto"))
    finally:
        spark.conf.set(key, old)
    assert "WindowGroupLimit" not in off_plan, off_plan[:2000]

    # round-5 guard: a spine ABOVE auto_broadcast_rows must NOT take the
    # carve-out even over bucketed sources — broadcasting a huge spine's
    # key set is the OOM the cap exists to prevent. The melt (no
    # WindowGroupLimit marker) is the fallback, and results agree.
    big_out = point_in_time_join(
        spine, [bview], strategy="auto", auto_broadcast_rows=10
    )
    big_plan = big_out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" not in big_plan, big_plan[:2000]
    assert sorted(map(tuple, big_out.collect())) == sorted(
        map(tuple, auto_out.collect())
    )


def test_training_pipeline_e2e_plan_has_no_blowup(spark, sf_dir):
    """The flagship composition chains five operators; none of its joins
    may degrade to a cartesian/nested-loop shape, and the chunker stage
    must not introduce a shuffle of its own (chunks stream from the
    curated scan into the single packing window)."""
    from feast_ibm_spark.queries import QUERIES

    out = QUERIES["training_pipeline_e2e"].fn(spark, sf_dir)
    text = explain_str(out)
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text
    assert out.count() > 0


def test_text_search_is_broadcast_probe_not_self_join(spark, sf_dir):
    """The lexical top-k search must stay an ASYMMETRIC probe: the query
    shingles broadcast, the corpus inverted index joins exactly one
    broadcast hash join (no sort-merge self-join, no cartesian), and the
    per-query top-k rides a WindowGroupLimit so at most k rows per query
    leave each task before the final window."""
    from feast_ibm_spark.queries import QUERIES

    out = QUERIES["text_similarity_topk"].fn(spark, sf_dir)
    text = explain_str(out)
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text
    assert "SortMergeJoin" not in text
    assert has_broadcast_join(out)
    assert "WindowGroupLimit" in text


def test_peak_open_orders_single_subtree(spark, sf_dir):
    """The sweep-line query's peak lookup and delta melt must not
    duplicate the upstream subtree: each base table scans ONCE (the
    groupBy+self-join / union formulations plan-audited at 2x scans),
    and the running-sum window input is the pre-aggregated
    (priority, date) frame, never raw intervals."""
    from feast_ibm_spark.queries import QUERIES

    out = QUERIES["peak_open_orders"].fn(spark, sf_dir)
    text = explain_str(out)
    import re

    scans = re.findall(r"Location: InMemoryFileIndex \[([^\]]+)\]", text)
    assert len(scans) == len(set(scans)), f"duplicated scans: {scans}"
    assert "CartesianProduct" not in text
    assert "Union" not in text


def test_sliding_distinct_has_no_join(spark, sf_dir):
    """The trailing-window distinct must be the map-side-expansion shape:
    no join anywhere (the naive day x events range join is the
    anti-pattern), one aggregate over the exploded (day, user) pairs."""
    from feast_ibm_spark.queries import QUERIES

    out = QUERIES["window_sliding_distinct"].fn(spark, sf_dir)
    text = explain_str(out)
    assert "Join" not in text
    assert "Generate" in text  # the explode expansion


def test_incremental_dedup_never_self_joins_corpus(spark, sf_dir):
    """Batch-vs-corpus dedup joins the two inverted indexes on the
    shingle key — no cartesian/nested-loop shape, and no corpus
    SELF-join may appear (the full pair graph is exactly what the
    incremental form exists to avoid)."""
    from feast_ibm_spark.queries import QUERIES

    out = QUERIES["dedup_incremental"].fn(spark, sf_dir)
    text = explain_str(out)
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text
    assert out.count() > 0


def test_time_decay_prunes_scan(spark, sf_dir):
    """The decay weights filter on a derived day-age column (no
    pushdown); the query must carry the equivalent raw ts-range
    predicate so the scan prunes to the trailing window."""
    from feast_ibm_spark.queries import QUERIES

    out = QUERIES["features_time_decay"].fn(spark, sf_dir)
    pf = pushed_filters(out)
    assert any("GreaterThan" in f or ">=" in f for f in pf), pf


def test_pii_scan_is_map_only_no_udf(spark, sf_dir):
    """PII scan + redaction must run entirely inside the scan stage:
    zero exchanges (no shuffle), no Python evaluation anywhere — the
    regex scan lives in whole-stage codegen."""
    from feast_ibm_spark.queries import QUERIES

    out = QUERIES["text_pii_scan"].fn(spark, sf_dir)
    text = explain_str(out)
    assert "Exchange" not in text
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text
    assert "Join" not in text


def test_epoch_shuffle_one_exchange_per_epoch(spark, sf_dir):
    """Each epoch's (shard, pos) window shuffles once; the exported
    2-epoch union must plan exactly 2 exchanges — no global sort, no
    extra repartition."""
    from feast_ibm_spark.queries import QUERIES

    import re

    out = QUERIES["training_shuffle"].fn(spark, sf_dir)
    text = explain_str(out)
    # formatted explain numbers each physical node once: "(n) Exchange"
    assert len(re.findall(r"\(\d+\) Exchange", text)) == 2, text
    assert "rangepartitioning" not in text  # no global sort


def test_containment_single_self_join_no_cartesian(spark, sf_dir):
    """Both containment directions must come from ONE shingle self-join
    (the unordered common counts) — two directions may not mean two
    joins over the index, and nothing may go nested-loop."""
    from feast_ibm_spark.queries import QUERIES

    out = QUERIES["dedup_containment"].fn(spark, sf_dir)
    text = explain_str(out)
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text
    # one shingle-index equi-join feeding both direction branches: the
    # common-count aggregate appears once per branch via exchange reuse,
    # not as independently re-planned joins at runtime (AQE dedups the
    # canonical subtree); statically the union has 2 branches
    assert "Union" in text


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_dir):
    """Spark's runtime row-level filtering: a selective filter on the
    build side of a shuffle join should inject a bloom-filter aggregate
    there and a might_contain probe into the OTHER side's scan stage —
    at 100 TB this prunes most probe rows before the exchange. The
    application-side size gate (default 10 GB — trivially met by a real
    fact table, never by gate-scale data) is lowered to 0 here to
    demonstrate the at-scale plan on test data; broadcast is disabled
    because a broadcast join already ships the keys."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        text = explain_str(j)
        assert "bloom_filter_agg" in text, "no bloom filter built"
        assert "might_contain" in text, "no probe-side membership test"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_feature_e2e_prunes_branch_scans_and_broadcasts_stats(spark, sf_dir):
    """The serving-side flagship: the 7-day and decay branches must push
    their own ts-range predicates to their scans (no branch reads the
    full history), the population-stats row must arrive by broadcast
    (never a shuffle for one row), and nothing may plan nested-loop."""
    from feast_ibm_spark.queries import QUERIES

    out = QUERIES["feature_engineering_e2e"].fn(spark, sf_dir)
    text = explain_str(out)
    fs = pushed_filters(out)
    ranged = [f for f in fs if "GreaterThanOrEqual(ts" in f]
    assert len(ranged) >= 2, fs  # both trailing-window branches pruned
    assert "BroadcastNestedLoopJoin" in text or "BroadcastExchange" in text
    assert "CartesianProduct" not in text


def test_runtime_bloom_filter_reduces_shuffle_join(spark, sf_dir):
    """Spark's runtime bloom-filter join (semi-join reduction) is ON in
    this engine's sessions and injects a `might_contain(bloom_filter_agg)`
    probe-side filter once its size thresholds are met — at 100 TB this
    prunes fact-side shuffle rows whose keys cannot join (the selective
    dim filter never reaches them otherwise). Local data sits below the
    10 GB application-side threshold, so the test relaxes the thresholds
    to observe the injection, and pins that a BROADCAST join (the
    planner's choice when the dim IS small) correctly gets no bloom —
    broadcast already prunes at the probe."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )

    def plan_of(join_df):
        return join_df._jdf.queryExecution().optimizedPlan().toString()

    j = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
        "o_orderpriority"
    ).count()

    # broadcast planning (default): no bloom filter belongs in the plan
    assert "might_contain" not in plan_of(j)

    old = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        assert "bloom_filter_agg" in plan and "might_contain" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_observation_metrics_ride_the_plan(spark, sf_dir):
    """`df.observe(Observation, ...)` collects aggregates DURING the
    action — the 100 TB pattern for data-quality counters (rows seen,
    nulls, out-of-range) without a second scan. Pins that observed
    metrics equal the directly-computed aggregates on the same data."""
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("quality")
    cents = F.round(F.col("value") * 100).cast("bigint")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents).alias("sum_cents"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("n_negative"),
    )
    # the action that drives the scan is an ordinary aggregate consumer
    out = observed.groupBy("event_type").count().collect()
    got = obs.get
    want = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("neg"),
    ).collect()[0]
    assert got["n_rows"] == want.n
    assert got["sum_cents"] == want.s
    assert got["n_negative"] == want.neg == 0
    assert len(out) > 0


def test_pit_auto_escalates_to_salted_on_hot_spine(spark):
    """Round-7 auto hot-SPINE escalation (VERDICT r6 item 3): when one key
    holds more SPINE rows than ``salt_partition_budget_rows``, ``auto``
    must switch from the plain melt (whole key in one window partition)
    to the salted melt (partitions bounded by (key, time-bucket)) — and
    the escalated plan must return results identical to the plain melt.
    Below the budget the probe must not even run: a spine smaller than
    the budget cannot contain a key above it, so the row count already
    known from the range aggregate short-circuits the histogram job."""
    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    # hot spine: every event row becomes a spine row for user_id=0
    spine = ev.select(
        F.lit(0).alias("user_id"), F.col("ts").alias("event_timestamp")
    )
    view = FeatureViewSpec(
        "v", ev, ["user_id"], ["value"], "ts", ttl_seconds=30 * 86400
    )
    escalated = point_in_time_join(
        spine, [view], strategy="auto", salt_partition_budget_rows=1_000
    )
    plan = escalated._jdf.queryExecution().executedPlan().toString()
    assert "__carry_in" in plan  # the salted melt's phase-2 column
    plain = point_in_time_join(spine, [view], strategy="union_window")
    assert sorted(map(tuple, escalated.collect())) == sorted(
        map(tuple, plain.collect())
    )

    # below-budget spine: probe short-circuited (monkey-proof: histogram
    # helper raises if called), plan stays the plain melt
    from feast_ibm_spark.operators import pit_join as pj

    small = spine.limit(100)
    orig = pj.SpineFacts.hot_key_max
    pj.SpineFacts.hot_key_max = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("histogram probe must not run below the budget")
    )
    try:
        out = point_in_time_join(
            small, [view], strategy="auto", salt_partition_budget_rows=1_000_000
        )
        plan_small = out._jdf.queryExecution().executedPlan().toString()
    finally:
        pj.SpineFacts.hot_key_max = orig
    assert "__carry_in" not in plan_small


def test_pit_auto_salts_only_the_hot_view(spark):
    """Per-view escalation: in a multi-view auto join where only one
    view's key set is hot on the spine, only THAT view melts salted —
    the cold view keeps the plain melt (salting costs two extra
    shuffles, measured 2-3x slower per view). A cold-view-only join
    under the same budget must not escalate at all."""
    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    # hot on user_id (all rows key 0), unique per event_id
    spine = ev.select(
        F.lit(0).alias("user_id"),
        "event_id",
        F.col("ts").alias("event_timestamp"),
    )
    hot_view = FeatureViewSpec(
        "hot", ev, ["user_id"], ["value"], "ts", ttl_seconds=30 * 86400
    )
    cold_view = FeatureViewSpec(
        "cold", ev.select("event_id", "ts", F.col("value").alias("v2")),
        ["event_id"], ["v2"], "ts", ttl_seconds=30 * 86400,
    )

    both = point_in_time_join(
        spine, [hot_view, cold_view], strategy="auto",
        salt_partition_budget_rows=1_000,
    )
    assert "__carry_in" in both._jdf.queryExecution().executedPlan().toString()

    cold_only = point_in_time_join(
        spine, [cold_view], strategy="auto", salt_partition_budget_rows=1_000
    )
    plan_cold = cold_only._jdf.queryExecution().executedPlan().toString()
    assert "__carry_in" not in plan_cold  # cold key set never escalates

    plain = point_in_time_join(
        spine, [hot_view, cold_view], strategy="union_window"
    )
    assert sorted(map(tuple, both.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_exact_substr_pairs_joins_hashed_grams(spark, sf_dir):
    """ExactSubstr pair view, the 100 TB shape assertions: the self-join
    is a HASH join keyed by the gram (never nested-loop/cartesian), and
    with hash_grams on the shuffled join key is the 8-byte xxhash64 —
    the 40-char gram strings must not survive into the exchange."""
    from feast_ibm_spark.operators.exact_substr import (
        duplicated_spans,
        exact_substr_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = exact_substr_pairs(docs)
    text = explain_str(out)
    assert "NestedLoop" not in text and "Cartesian" not in text
    assert "HashJoin" in text
    assert "xxhash64" in text  # longs, not L-char strings, hit the shuffle

    # span tier: NO join between document rows at all — the duplicate
    # test is a per-gram aggregate, so the only join is covered-offsets
    # back to the (tiny) duplicated-gram set
    spans = duplicated_spans(docs)
    stext = explain_str(spans)
    assert "NestedLoop" not in stext and "Cartesian" not in stext


def test_frequency_cap_anti_join_broadcasts_at_runtime(spark, sf_dir):
    """The max_gram_freq cap must reach the gram table as a LEFT ANTI
    join against the (tiny) over-cap hot set that AQE converts to a
    broadcast at runtime — the round-8 inversion of the old
    keep-set inner join, which always reshuffled the gram table.
    Checked on the EXECUTED adaptive plan (static explain can't see the
    runtime conversion). The AQE/broadcast configs the conversion
    depends on are pinned for the duration of the test (ADVICE r8) so a
    session-config drift can't fail this without a code regression."""
    from feast_ibm_spark.operators.exact_substr import exact_substr_pairs

    pinned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.localShuffleReader.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
    saved = {k: spark.conf.get(k, None) for k in pinned}
    for k, v in pinned.items():
        spark.conf.set(k, v)
    try:
        docs = load_table(spark, sf_dir, "documents")
        out = exact_substr_pairs(docs, min_len=40, max_gram_freq=100)
        out.count()  # finalize AQE
        plan = out._jdf.queryExecution().executedPlan().toString()
        anti_lines = [l for l in plan.splitlines() if "LeftAnti" in l]
        assert anti_lines, "cap no longer plans an anti-join"
        assert all("BroadcastHashJoin" in l for l in anti_lines), anti_lines
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_skyline_bucketed_avoids_single_partition_window(spark, sf_dir):
    """The skyline tiers' scale contract: the global_window tier pays
    exactly one Exchange SinglePartition (the running-max window over
    the distinct-price frame — the documented sessionize-class sort),
    and the bucketed tier pays NONE (per-bucket maxima + driver prefix
    array + bucket-partitioned windows), while both return the same
    frontier (pinned by the shared oracle and the property net)."""
    from feast_ibm_spark.operators.skyline import pareto_frontier_2d
    from feast_ibm_spark.sources.reader import load_table

    part = load_table(spark, sf_dir, "part")

    def n_single(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange SinglePartition")

    gw = pareto_frontier_2d(part, "p_retailprice", "p_size",
                            strategy="global_window")
    bu = pareto_frontier_2d(part, "p_retailprice", "p_size",
                            strategy="bucketed", n_buckets=64)
    assert n_single(gw) == 1, gw._jdf.queryExecution().executedPlan().toString()
    assert n_single(bu) == 0, bu._jdf.queryExecution().executedPlan().toString()
    # and the two tiers agree on the actual data
    assert sorted(r.p_partkey for r in gw.collect()) == \
        sorted(r.p_partkey for r in bu.collect())


def test_runtime_bloom_filter_injects_on_selective_shuffle_join(spark, sf_dir):
    """Runtime bloom-filter join pruning — the 100 TB lever for
    selective shuffle joins (the filtered dim's keys ride to the fact
    scan as a bloom `might_contain`, killing non-matching rows BEFORE
    the shuffle). Spark gates injection on a 10 GB application-side
    scan (correctly invisible at test scale — pinned), so this test
    lowers the thresholds to pin the MECHANISM: the optimized plan
    carries bloom_filter_agg + might_contain, and results are
    bit-identical with the filter on and off."""
    from feast_ibm_spark.sources.reader import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    sel = orders.filter(F.col("o_orderpriority") == "1-URGENT") \
        .select("o_orderkey")

    def agg():
        j = li.join(sel, li.l_orderkey == sel.o_orderkey)
        return j.groupBy().agg(F.sum("l_quantity").alias("q"))

    assert spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    keep = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        )
    }
    try:
        # force a shuffle join (broadcast joins don't need the bloom)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        baseline = agg()
        base_plan = baseline._jdf.queryExecution().optimizedPlan().toString()
        # at test scale the 10 GB application-side gate keeps it OFF
        assert "might_contain" not in base_plan
        base_rows = baseline.collect()

        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "0")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB")
        filtered = agg()
        plan = filtered._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        assert filtered.collect() == base_rows
    finally:
        for k, v in keep.items():
            spark.conf.set(k, v)


def test_bucketed_join_query_plan_is_shuffle_free(spark, sf_dir):
    """The registered layout_bucketed_join query must carry ZERO
    Exchange anywhere: the per-user fact aggregate and the fact-dim
    merge join both reuse the bucketing persisted at write time
    (sources/bucketed.py's write-once-shuffle-never contract, now
    pinned on the gate query itself, not just a synthetic pair).
    Broadcast is disabled so co-location — not a broadcast — is what
    removes the join shuffle."""
    from feast_ibm_spark.plans.inspect import count_shuffles
    from feast_ibm_spark.queries import QUERIES

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["layout_bucketed_join"].fn(spark, sf_dir)
        assert count_shuffles(df) == 0, \
            df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in \
            df._jdf.queryExecution().executedPlan().toString()
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))


def test_data_skipping_prunes_files_and_preserves_answer(spark):
    """layout_data_skipping: the zone-map probe must (a) scan strictly
    fewer files than the clustered table holds — the stats table is an
    I/O index, pinned here against layout drift — and (b) return
    exactly the full-scan answer (zone maps change I/O, never
    results)."""
    import glob
    import hashlib
    import os
    import tempfile

    from pyspark.sql import functions as F

    from feast_ibm_spark.queries import QUERIES
    from feast_ibm_spark.queries.pipelines import SKIP_HI, SKIP_LO

    sf_dir = "/root/testdata/sf0.01"
    out = QUERIES["layout_data_skipping"].fn(spark, sf_dir)
    got = {(r.event_type, r.n_events, r.n_users, r.sum_cents)
           for r in out.collect()}

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    dest = os.path.join(tempfile.gettempdir(), f"fis_events_skip_{tag}")
    total_files = len(glob.glob(os.path.join(dest, "*.parquet")))
    stats = spark.read.parquet(dest + "_zonemap")
    candidates = stats.filter(
        (F.col("min_user") <= SKIP_HI) & (F.col("max_user") >= SKIP_LO)
    ).count()
    assert stats.count() == total_files
    # 16 range-clustered files over 150 users; a 50-user probe range
    # must touch a strict subset
    assert 0 < candidates < total_files

    full = {
        (r.event_type, r.n_events, r.n_users, r.sum_cents)
        for r in spark.read.parquet(dest)
        .filter(F.col("user_id").between(SKIP_LO, SKIP_HI))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("cents").alias("sum_cents"),
        )
        .collect()
    }
    assert got == full


def test_snapshot_zonemap_prunes_segments(spark):
    """layout_snapshot_zonemap: the phase-2 windowed read must plan a
    STRICT SUBSET of the table's files (manifest-level segment
    skipping) while the query's own oracle pins the content — stats
    change I/O, never answers."""
    import datetime

    from feast_ibm_spark.queries import QUERIES
    from feast_ibm_spark.queries.pipelines import (
        SNAPSHOT_CDF_SPLIT1,
        ZONEMAP_WINDOW_END,
        _chain_needs_build,  # noqa: F401 (chain built by the query)
    )
    from feast_ibm_spark.sources.snapshots import (
        read_snapshot,
        read_snapshot_between,
    )

    sf_dir = "/root/testdata/sf0.01"
    QUERIES["layout_snapshot_zonemap"].fn(spark, sf_dir).collect()
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    dest = os.path.join(tempfile.gettempdir(), f"fis_events_zm_{tag}")
    full = len(read_snapshot(spark, dest).inputFiles())
    lo = datetime.datetime.fromisoformat(SNAPSHOT_CDF_SPLIT1)
    hi = datetime.datetime.fromisoformat(ZONEMAP_WINDOW_END)
    pruned = len(read_snapshot_between(spark, dest, "ts", lo, hi).inputFiles())
    assert 0 < pruned < full  # segment 1 (pre-split) skipped entirely
