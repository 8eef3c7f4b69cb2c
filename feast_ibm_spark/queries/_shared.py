"""Named queries + DuckDB oracle SQL — the driver-facing inventory.

Each entry implements one operator family from SURVEY.md §2 (reference
surface) or the north-star extensions (dedup / similarity / text /
multimodal). Every query is paired with ANSI SQL the DuckDB oracle runs on
the same parquet; the driver hash-compares values, so queries are designed
for cross-engine determinism:

- float aggregations accumulate in DECIMAL (order-independent, exact) and
  convert to double only at the end;
- dot products / rolling hashes are strict left-to-right folds over the
  same element order on both engines;
- threshold tests are integer comparisons (no float epsilon);
- every tie is broken by a unique id column.

All timestamps are µs UTC (nanos parquet is truncated identically by both
engines — see sources/reader.py).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    BPE_TOKEN_PATTERN,
    FP_BASE,
    FP_MOD,
    LANG_STOPWORDS,
    bpe_token_count_col,
    fingerprint_col,
    lang_id_col,
    quality_score_col,
    token_count_col,
)
from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_col,
    simhash_near_dup_pairs,
)
from ..operators.pit_join import FeatureViewSpec, point_in_time_join
from ..operators.pull_all import time_range_scan
from ..operators.pull_latest import latest_per_key
from ..operators.similarity import (
    _hyperplanes,
    ivfpq_cosine_topk,
    pq_cosine_topk,
    cosine_topk,
    ivf_cosine_topk,
    lsh_cosine_topk,
    near_dup_pairs,
    near_dup_pairs_lsh,
)
from ..sources.reader import load_table


@dataclass
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL over pre-registered views; None => rows-only
    doc: str = ""


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _cents(col: str, scale: int = 100):
    """Exact scaled-integer money representation (order-independent sums)."""
    return F.round(F.col(col) * scale).cast("bigint")


def _partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Day-partitioned copy of the events table (written once per sf_dir,
    cached by an on-disk _SUCCESS marker) — the fixture both the F3
    partition-pruning scan and the partitioned PIT join read."""
    import hashlib
    import os
    import tempfile

    ev = _t(spark, sf_dir, "events")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    dest = os.path.join(tempfile.gettempdir(), f"fis_events_by_day_{tag}")
    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        (
            ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(dest)
        )
    return dest


# DuckDB SQL fragments shared across family modules' oracles
_DUCK_TOKENS = "regexp_split_to_array(trim(text), '\\s+')"
_DUCK_EN_STOPS = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])




# Names every family module pulls in via ``from ._shared import *`` —
# including the underscore helpers (listing them here opts them into the
# star import on purpose).
__all__ = [
    "Callable", "DataFrame", "SparkSession", "F", "dataclass",
    "BPE_TOKEN_PATTERN", "FP_BASE", "FP_MOD", "LANG_STOPWORDS",
    "bpe_token_count_col", "fingerprint_col", "lang_id_col",
    "quality_score_col", "token_count_col",
    "exact_dedup", "minhash_lsh_pairs", "ngram_jaccard_pairs",
    "simhash_col", "simhash_near_dup_pairs",
    "FeatureViewSpec", "point_in_time_join", "time_range_scan",
    "latest_per_key",
    "_hyperplanes", "ivfpq_cosine_topk", "pq_cosine_topk", "cosine_topk",
    "ivf_cosine_topk", "lsh_cosine_topk", "near_dup_pairs",
    "near_dup_pairs_lsh",
    "load_table",
    "QueryDef", "_t", "_DUCK_TOKENS", "_DUCK_EN_STOPS",
    "_cents", "_partitioned_events_path",
]
