"""Output checks against DuckDB on the same parquet files.

Each result is reduced to ``(row count, sum of per-row hashes)``: an
order-insensitive multiset digest. Timestamps are compared as epoch
microseconds, so Spark's UTC-zoned Arrow timestamps and DuckDB's naive
parquet timestamps digest alike.
"""

from __future__ import annotations

import duckdb

TRAINING_COLS = "user_id, epoch_us(event_timestamp), label, value, event_type"
LATEST_COLS = "user_id, value, event_type, epoch_us(ts)"


def _digest_sql(cols: str, rel: str) -> str:
    return f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) FROM {rel}"


class Oracle:
    """Expected results computed by DuckDB, and digests of actual ones."""

    def __init__(self, events_dir, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {threads}")
        self.con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_dir}/*.parquet')"
        )

    def close(self) -> None:
        self.con.close()

    def digest(self, table, cols: str) -> tuple[int, int]:
        """Digest of an Arrow table."""
        self.con.register("result_tbl", table)
        try:
            return tuple(self.con.execute(_digest_sql(cols, "result_tbl")).fetchone())
        finally:
            self.con.unregister("result_tbl")

    def digest_parquet(self, path, cols: str) -> tuple[int, int]:
        rel = f"read_parquet('{path}/*.parquet')"
        return tuple(self.con.execute(_digest_sql(cols, rel)).fetchone())

    def training(self, spine, views) -> tuple[int, int]:
        """As-of join: per view, the greatest ``ts <= event_timestamp`` of the
        spine row's key, kept only if ``ts >= event_timestamp - ttl`` when the
        view has a TTL; every spine row survives."""
        self.con.register("spine_df", spine)
        try:
            self.con.execute(
                "CREATE OR REPLACE TEMP TABLE spine AS SELECT row_number() OVER () AS rid, "
                "user_id, CAST(event_timestamp AS TIMESTAMP) AS event_timestamp, label "
                "FROM spine_df"
            )
        finally:
            self.con.unregister("spine_df")
        selects, joins = [], []
        for i, (feature, ttl_s) in enumerate(views):
            keep = f"f.ts >= s.event_timestamp - INTERVAL {ttl_s} SECOND" if ttl_s else "TRUE"
            selects.append(f"v{i}.{feature}")
            joins.append(
                f"JOIN (SELECT s.rid, CASE WHEN {keep} THEN f.{feature} END AS {feature} "
                f"FROM spine s ASOF LEFT JOIN events f "
                f"ON s.user_id = f.user_id AND s.event_timestamp >= f.ts) v{i} "
                f"ON v{i}.rid = s.rid"
            )
        rel = f"(SELECT s.*, {', '.join(selects)} FROM spine s {' '.join(joins)})"
        return tuple(self.con.execute(_digest_sql(TRAINING_COLS, rel)).fetchone())

    def latest(self, lo, hi) -> tuple[int, int]:
        """Latest row per key with ``lo <= ts <= hi``."""
        rel = (
            "(SELECT * FROM events WHERE ts BETWEEN $lo AND $hi "
            "QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1)"
        )
        return tuple(
            self.con.execute(_digest_sql(LATEST_COLS, rel), {"lo": lo, "hi": hi}).fetchone()
        )
