"""Inputs of the offline-store benchmark.

The feature table is a scaled copy of ``events.parquet`` beside this file: the
sf0.1 ``events`` table of the repository's testdata (100k rows, 1,500
``user_id`` keys, 30 days of microsecond timestamps). Replica ``r`` shifts
``user_id`` by ``r * BASE_KEYS`` and ``event_id`` by ``r * BASE_ROWS``, so
per-key history, per-day volume and key structure scale exactly. Each replica
is one parquet file with one row group, like the source file.

Every operation input (spines, materialize windows) is drawn from the
workload seed given on the command line.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

SOURCE = Path(__file__).resolve().parent / "events.parquet"
BASE_ROWS = 100_000
BASE_KEYS = 1_500
SCALE = 5
DAY0 = dt.datetime(2024, 1, 1)
DAYS = 30

SPINE_ROWS = 20_000
WINDOW_DAYS = 7


def _sha256(path: Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def ensure_events(data_dir: Path) -> Path:
    """Return the directory of the scaled events copy, rebuilding it unless
    its manifest names the current source and scale and every file's
    checksum matches."""
    out = data_dir / f"events_x{SCALE}"
    # beside the directory, not in it: Spark reads every file in it
    manifest = data_dir / f"events_x{SCALE}.manifest.json"
    spec = {"scale": SCALE, "source_sha256": _sha256(SOURCE)}
    if manifest.is_file():
        m = json.loads(manifest.read_text())
        files = sorted(p.name for p in out.glob("*.parquet"))
        if (
            m.get("spec") == spec
            and files == sorted(m.get("files", {}))
            and all(_sha256(out / f) == m["files"][f] for f in files)
        ):
            return out
    base = pq.read_table(SOURCE)
    if base.num_rows != BASE_ROWS or pc.max(base["user_id"]).as_py() != BASE_KEYS - 1:
        raise ValueError(f"{SOURCE} is not the 100k-row, 1,500-key events table")
    tmp = data_dir / f".events_x{SCALE}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    files = {}
    for r in range(SCALE):
        replica = base.set_column(
            base.schema.get_field_index("event_id"), "event_id",
            pc.add(base["event_id"], r * BASE_ROWS),
        )
        replica = replica.set_column(
            replica.schema.get_field_index("user_id"), "user_id",
            pc.add(replica["user_id"], r * BASE_KEYS),
        )
        name = f"part-{r:05d}.parquet"
        pq.write_table(replica, tmp / name, row_group_size=BASE_ROWS)
        files[name] = _sha256(tmp / name)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    manifest.write_text(json.dumps({"spec": spec, "files": files}))
    return out


def _rng(seed: int, i: int) -> np.random.Generator:
    return np.random.default_rng([seed, i])


def spine(seed: int, i: int) -> pd.DataFrame:
    """Entity spine for training-set operation ``i``: uniform keys over the
    whole scaled key space, uniform microsecond timestamps over days 3..30."""
    rng = _rng(seed, i)
    lo = int(pd.Timestamp(DAY0 + dt.timedelta(days=2)).value // 1000)
    hi = int(pd.Timestamp(DAY0 + dt.timedelta(days=DAYS)).value // 1000)
    return pd.DataFrame(
        {
            "user_id": rng.integers(0, BASE_KEYS * SCALE, SPINE_ROWS, dtype=np.int64),
            "event_timestamp": pd.to_datetime(rng.integers(lo, hi, SPINE_ROWS), unit="us"),
            "label": rng.random(SPINE_ROWS),
        }
    )


def window(seed: int, i: int) -> tuple[dt.datetime, dt.datetime]:
    """Inclusive ``[start, end]`` of materialize operation ``i``:
    ``WINDOW_DAYS`` whole days starting on a seeded day of the table's range."""
    start = DAY0 + dt.timedelta(days=int(_rng(seed, i).integers(0, DAYS - WINDOW_DAYS + 1)))
    return start, start + dt.timedelta(days=WINDOW_DAYS, microseconds=-1)
