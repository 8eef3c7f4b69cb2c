"""Bucketed tables: co-located joins without a per-query shuffle.

The 100 TB strategy SURVEY §4 calls for: a feature table that is joined
on the same key every day (entity key for PIT joins, order key for fact-
to-fact analytics) should pay its shuffle ONCE at write time. Spark's
hash bucketing (`DataFrameWriter.bucketBy` + `saveAsTable`) persists the
partitioning in the catalog; any later equi-join or aggregation on the
bucket columns reuses it, and a join of two tables bucketed the same way
(same columns, same count) runs with NO Exchange on either side — at
1000-executor scale that is the difference between an all-to-all of the
two biggest tables in the warehouse and a purely local merge per bucket.

The reference cannot express this (its storage is immutable COS objects,
`ibm_data_engine/data_engine_offline_store.py:535-558`); it is the kind
of physical-design lever owning the engine makes available.

``sortBy`` on the same key additionally persists within-bucket order, so
sort-merge joins skip their sort stage too.

A bucketed table needs no label for the PIT join either: the planned
scan of ``spark.table(name)`` reports ``hashpartitioning(bucket_cols)``
as its output partitioning (through renames and filters too), and
``point_in_time_join``'s ``auto`` strategy reads that from the source's
plan to take the zero-feature-exchange range join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a catalog table hash-bucketed on ``bucket_cols``.

    ``n_buckets`` should divide evenly into the cluster's parallelism and
    keep each bucket's data within one executor's memory at the target
    scale (e.g. 100 TB / 4096 buckets ~ 25 GB per bucket file set).
    Joining two tables bucketed on the same columns with the same
    ``n_buckets`` produces a shuffle-free plan (asserted in
    ``tests/test_plans.py``).
    """
    writer = (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def bucketed_join_ready(spark: SparkSession, table_a: str, table_b: str) -> bool:
    """True when both catalog tables exist (helper for opportunistic
    co-located planning: fall back to plain sources when absent)."""
    cat = spark.catalog
    return cat.tableExists(table_a) and cat.tableExists(table_b)

