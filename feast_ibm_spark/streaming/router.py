"""One-pass dual-sink stream routing (north-star extension; no
reference counterpart).

The ingestion-router shape: one input stream, one pass, N output sinks
selected per-row by predicate (priority/standard lanes, accept/
quarantine channels, per-tenant fan-out). Structured Streaming has no
native multi-sink writer, so the standard composition — re-reading the
stream once per sink — scans the input N times and lets the sinks drift
out of sync across restarts. ``route_stream`` instead uses ONE
``foreachBatch``: the micro-batch is persisted, each route filters and
writes it, and every write lands in a ``batch=<id>`` subdirectory with
mode=overwrite — the idempotent-foreachBatch pattern. A retried batch
OVERWRITES its own directory instead of appending duplicates, so the
sinks stay exactly-once without a sink-side commit log, and both lanes
observe the identical batch boundary.

At 100 TB: the batch persist is the only extra cost over a single-sink
write (amortized across N routes — N=2 halves the input scans vs the
re-read composition); directory-per-batch output is the standard
compaction input (sources/layout.compact).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def route_stream(
    stream: DataFrame,
    routes: dict[str, Column],
    base_dir: str,
    checkpoint_dir: str | None = None,
    timeout_s: float = 600.0,
) -> dict[str, str]:
    """Drain ``stream`` (availableNow) once, routing rows into one
    parquet directory per entry of ``routes`` (name -> boolean Column).
    Routes may overlap or not cover every row — the router imposes no
    partition contract beyond the predicates given. Returns
    {route_name: output_dir}. Pass ``checkpoint_dir`` only to resume the
    routing later; otherwise the drain owns its checkpoint.
    """
    import os

    from .run import drain_writer

    dirs = {name: os.path.join(base_dir, name) for name in routes}

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            for name, pred in routes.items():
                (
                    batch.filter(pred)
                    .write.mode("overwrite")
                    .parquet(os.path.join(dirs[name], f"batch={batch_id}"))
                )
        finally:
            batch.unpersist()

    drain_writer(stream.writeStream.foreachBatch(write_batch), base_dir,
                 checkpoint_dir, timeout_s)
    return dirs
