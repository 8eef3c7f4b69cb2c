"""Pareto frontier (skyline) over two objectives: the rows no other row
beats on both axes at once (north-star extension; no reference
counterpart — the "best trade-offs" query behind model/config selection,
price-performance curation, and data-quality vs-cost sweeps).

Dominance, for minimize ``p`` / maximize ``s``: row i is dominated iff
some j has ``p_j <= p_i AND s_j >= s_i`` with at least one strict.
Equal (p, s) pairs do NOT dominate each other, so exact ties all
survive — pinned against a DuckDB NOT EXISTS oracle, which keeps the
textbook quadratic formulation as the independent twin.

The naive formulation is an O(n^2) self-join. Both strategies here are
linear decompositions built on the frontier's MONOTONE structure:
survivors are exactly the rows with ``s == m(p)`` and
``R(p) < s``, where ``m(p) = max s at price p`` and ``R(p) = max m
over all strictly cheaper prices`` (the running max).

- ``global_window``: groupBy(p) collapses the input to one row per
  distinct p value (map-side combine — the 100 TB reduction happens
  before any sort); R is a running max over that reduced frame in ONE
  unpartitioned window. The window's sort input is |distinct p|, the
  sessionize class: sort-bound, spill-safe, O(1) post-sort state — fine
  up to hundreds of millions of distinct values, but it is a single
  sorted partition.
- ``bucketed``: same stage-1 reduction, then the running max is
  two-level — B equal-width p-buckets, per-bucket maxima collected
  (B rows, a bounded collect like the ANN seed collects), prefix maxima
  precomputed driver-side into an array literal, and the within-bucket
  running max a window PARTITIONED by bucket. No unpartitioned window
  anywhere; parallelism B-way. Identical output (pinned by the shared
  oracle and a property net). The trade, measured
  (NOTES.md "Skyline whale datapoint", all-distinct minimize values):
  bucketed pays two extra full-input passes (bounds + bucket maxima),
  so BELOW the whale threshold global_window wins (1M rows: 5.6s vs
  17.4s); at 20M rows the unpartitioned sort is the straggler (worst
  task 18-26s ~= 80% of wall, 0.94 GB single-task spill) and bucketed
  wins 17s vs 23-33s with a flat 3.5s/0.05 GB worst task. Pick
  global_window for post-aggregate frames, bucketed when |distinct
  minimize| is itself whale-scale.

Either way the surviving frontier is a monotone chain — small by
nature — so the join back to the full-width input rows is an explicit
``broadcast``.

Rows with NULL in either objective are excluded up front (documented
choice: SQL three-valued logic would otherwise make a NULL row
undominatable and silently include it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# auto-tier switch point: |distinct minimize| above which the bucketed
# tier's two extra passes beat the unpartitioned window's single-sorted-
# partition straggler. Measured band (NOTES.md "Skyline whale datapoint"):
# global_window wins at 1M distinct (5.6s vs 17.4s), bucketed at 20M
# (17s vs 23-33s, worst task 3.5s vs 18-26s); 4M sits inside the
# crossover region with the pit_join-auto style of a deliberately
# conservative-but-measured constant.
AUTO_DISTINCT_THRESHOLD = 4_000_000


def pareto_frontier_2d(
    df: DataFrame,
    minimize: str,
    maximize: str,
    strategy: str = "global_window",
    n_buckets: int = 256,
) -> DataFrame:
    """Rows of ``df`` on the Pareto frontier of (minimize ``minimize``,
    maximize ``maximize``). Output schema == input schema.

    ``strategy="auto"`` materializes the stage-1 reduction (one row per
    distinct ``minimize`` value — the frame BOTH tiers consume anyway)
    with a ``localCheckpoint`` and counts it: that count IS the exact
    quantity the measured crossover depends on, so the probe costs one
    cheap action over the already-reduced frame, and the checkpoint
    doubles as a recompute shield for the bucketed tier's extra passes
    (Spark 4.1 reuses no exchanges — the bounds and bucket-maxima scans
    would otherwise re-derive stage 1 from the raw input)."""
    if strategy not in ("global_window", "bucketed", "auto"):
        raise ValueError(f"unknown strategy {strategy!r}")
    pcol, scol = F.col(minimize), F.col(maximize)
    clean = df.filter(pcol.isNotNull() & scol.isNotNull())

    per = clean.groupBy(minimize).agg(F.max(scol).alias("__m"))

    if strategy == "auto":
        per = per.localCheckpoint(eager=True)
        strategy = (
            "bucketed"
            if per.count() >= AUTO_DISTINCT_THRESHOLD
            else "global_window"
        )

    if strategy == "global_window":
        w = (
            Window.orderBy(minimize)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        per = per.withColumn("__r", F.max("__m").over(w))
    else:
        lo, hi = per.agg(
            F.min(minimize), F.max(minimize)
        ).first()  # bounded collect: exactly one row
        if lo is None:
            return clean.limit(0)
        span = (float(hi) - float(lo)) or 1.0
        bucket = F.least(
            F.lit(n_buckets - 1),
            F.floor((pcol.cast("double") - float(lo)) / span * n_buckets)
            .cast("int"),
        )
        per = per.withColumn("__b", bucket)
        bmax = {
            r["__b"]: r["bm"]
            for r in per.groupBy("__b").agg(F.max("__m").alias("bm")).collect()
        }  # bounded collect: <= n_buckets rows
        prefix = []  # prefix[b] = max m over buckets STRICTLY before b
        run = None
        for b in range(n_buckets):
            prefix.append(run)
            cur = bmax.get(b)
            if cur is not None and (run is None or cur > run):
                run = cur
        # literal NULLs are untyped (void) — cast to __m's type so
        # element_at/greatest resolve even when every prefix is NULL
        mtype = per.schema["__m"].dataType
        parr = F.array([F.lit(v).cast(mtype) for v in prefix])
        wb = (
            Window.partitionBy("__b")
            .orderBy(minimize)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        # greatest() skips NULLs, returning NULL only when both are
        per = per.withColumn(
            "__r",
            F.greatest(
                F.max("__m").over(wb),
                F.element_at(parr, F.col("__b") + 1),
            ),
        )

    chain = per.filter(
        F.col("__r").isNull() | (F.col("__r") < F.col("__m"))
    ).select(minimize, "__m")
    # string aliases + qualified names, NOT DataFrame[col] refs: chain
    # derives from clean, and once the auto tier localCheckpoints the
    # shared stage-1 frame the dataset-id disambiguation behind
    # DataFrame[col] breaks (measured: "Column __m are ambiguous" on a
    # (p, s)-only input) — the same shared-lineage trap t_closeness hit
    # in round 9
    cl, ch = clean.alias("__sk_l"), chain.alias("__sk_r")
    cond = (
        F.col(f"__sk_l.{minimize}") == F.col(f"__sk_r.{minimize}")
    ) & (F.col(f"__sk_l.{maximize}") == F.col("__sk_r.__m"))
    out = cl.join(F.broadcast(ch), on=cond, how="left_semi")
    return out.select(*df.columns)
