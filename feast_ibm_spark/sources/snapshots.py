"""Manifest-based table snapshots with time-travel reads (north-star
extension; no reference counterpart — the reference's storage is
immutable COS objects with no version dimension at all,
ibm_data_engine/data_engine_offline_store.py:535-558).

The Iceberg/Delta idea reduced to its load-bearing core: a table is a
DIRECTORY of immutable data segments plus a sequence of numbered
manifest files, each listing exactly the segments visible at that
version. Appends write a new segment, then publish a new manifest that
lists the old segments plus the new one; the manifest write is the
COMMIT POINT (published atomically via compare-and-swap), so a
reader never observes a half-appended version and a crashed writer
leaves at most an orphaned segment that no manifest references. Reads
at version v load only v's segment list — time travel is free, O(1)
metadata, no data copies; reproducing last week's training set is
``read_snapshot(path, version=last_week)``.

Concurrency contract: OPTIMISTIC MULTI-WRITER commits (round 11).
Every commit publishes its manifest with a COMPARE-AND-SWAP
(fsio.write_text_exclusive — a hardlink on posix, rename-no-overwrite
on HDFS, a conditional PUT on object stores in a real deployment): the
writer that loses the race on a version number re-reads the new latest
manifest, rebuilds its commit against it, and retries — appends
serialize without losing updates, exactly the Iceberg/Delta optimistic
protocol. READ-MODIFY-WRITE commits (MERGE, compaction) additionally
pin the version they were computed from and abort with
:class:`SnapshotConflictError` when a concurrent commit interleaves
(round 12, ADVICE r11) — a blind retry there would re-publish a stale
rewrite and silently drop the interleaved rows; compaction re-runs
itself, MERGE surfaces the conflict. Readers are unlimited and never
blocked.
:func:`vacuum_snapshots` remains EXCLUSIVE (run it while writers are
quiescent): it reclaims orphaned segments, and only that exclusivity
makes "unreferenced" mean "dead" rather than "about to be committed" —
defensively it also skips segments numbered beyond the newest committed
version, so even a racing in-flight append's segment survives.

Metadata I/O routes through :mod:`feast_ibm_spark.sources.fsio`: the
commit point needs an atomic PUBLISH-IF-ABSENT, which posix provides
via hardlink and HDFS via rename-no-overwrite; on object stores the
same protocol is a conditional PUT (If-None-Match) — fsio still
refuses those schemes here because this environment cannot exercise
one, but the commit protocol is already shaped for it. The DATA
plane — parquet segment write/scan — is Spark-native and
scheme-agnostic either way.

Scale: manifests hold segment DIRECTORY names, not file lists, and
append/tombstone commits write DELTA manifests (round 12) — O(1)
metadata bytes per commit, with a FULL checkpoint every ``_FULL_EVERY``
commits bounding any version's resolution to a short manifest walk
(the Iceberg manifest-list idea reduced to this format's needs;
measured on a 2,000-commit chain: ~20x less amortized manifest bytes
per commit, 16x less total metadata — NOTES.md "Measured artifacts").
The read plan stays a plain multi-directory parquet scan (partition
pruning, pushdown, and column pruning all intact). At 100 TB the same
design holds; the residual O(segments) cost is the periodic full
checkpoint, which manifest-LIST indirection would bound in turn —
noted as the next tier, not built.

Surface (each with its own gate query + unit net): append/overwrite
commits, time travel by version and by TIMESTAMP
(:func:`snapshot_version_at` / ``read_snapshot(as_of=...)``),
exactly-once streaming sink
(:func:`write_snapshot_batch` — replay dedup through a bounded batch
ledger in the newest manifest, O(1) metadata per commit), vacuum,
compaction (certified row-identical, so the change feed flows across
it) — plain or RANGE-CLUSTERED (``sort_by=``: the sort-order rewrite
that leaves fresh zone maps behind instead of destroying them),
manifest zone maps (``stats_cols=`` / :func:`read_snapshot_between`)
and manifest BLOOM filters for point lookups (``bloom_cols=`` /
:func:`read_snapshot_lookup`), metadata-only COUNT(*)
(:func:`snapshot_row_count`), schema enforcement at the commit point
and schema evolution on read, change data feed
(:func:`read_snapshot_changes`), exactly-once incremental consumption
(:func:`consume_snapshot_changes` / :func:`ack_snapshot_consume` /
:func:`pipeline_snapshot_changes`), copy-on-write MERGE
(:func:`merge_snapshot`), merge-on-read key tombstones
(:func:`delete_snapshot_keys`), and dynamic partition overwrite
(:func:`overwrite_snapshot_partitions`).
"""

from __future__ import annotations

import json
import posixpath
import re
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .fsio import get_fs

_MANIFEST_DIR = "_snapshots"
_DATA_DIR = "data"


def _join(*parts: str) -> str:
    return posixpath.join(*parts)


def _manifest_path(path: str, version: int) -> str:
    return _join(path, _MANIFEST_DIR, f"v{version:06d}.json")


def _snapshot_versions(fs, path: str) -> list[int]:
    return sorted(
        int(f[1:-5]) for f in fs.listdir(_join(path, _MANIFEST_DIR))
        if f.startswith("v") and f.endswith(".json")
    )


def snapshot_versions(path: str, spark: SparkSession | None = None) -> list[int]:
    """Committed versions, ascending (empty for a fresh/absent table)."""
    return _snapshot_versions(get_fs(path, spark), path)


def _read_manifest(fs, path: str, version: int) -> dict:
    return json.loads(fs.read_text(_manifest_path(path, version)))


# Delta-manifest tier (round 12): a full manifest restates the WHOLE
# segment list, so an append-heavy table pays O(total segments) metadata
# bytes per commit — quadratic cumulative over a streaming sink's life
# (the module docstring's deferred "manifest compaction past ~10^5
# segments" tier, now built). Append and tombstone commits instead write
# a DELTA manifest ({delta_base: v-1, add_segments/add_deletes: [...],
# delta_depth: d}) and every _FULL_EVERY-th commit in a delta chain —
# plus every overwrite/compaction/merge — writes a FULL manifest (the
# checkpoint), so resolving any version walks at most _FULL_EVERY
# manifests. Per-commit metadata is O(1) amortized; readers resolve
# through :func:`_resolve_manifest`. The bounded ``recent_batches``
# ledger is restated RAW in every manifest (delta or full) so the
# streaming replay probe stays one read. Pre-round-12 manifests have no
# ``delta_base`` and resolve as depth-0 fulls — old tables read
# unchanged.
_FULL_EVERY = 32


def _resolve_manifest(
    fs, path: str, version: int, cache: dict | None = None
) -> dict:
    """The EFFECTIVE manifest at ``version``: full manifests return
    as-is (normalized); delta manifests apply their additions onto the
    resolved base. ``cache`` (version -> resolved dict) makes an
    ascending walk O(1) per version."""
    if cache is not None and version in cache:
        return cache[version]
    mf = _read_manifest(fs, path, version)
    if "delta_base" in mf:
        base = _resolve_manifest(fs, path, mf["delta_base"], cache)
        out = dict(mf)
        out["segments"] = base.get("segments", []) + mf.get("add_segments", [])
        if base.get("segment_stats") or mf.get("add_segment_stats"):
            out["segment_stats"] = {
                **base.get("segment_stats", {}),
                **mf.get("add_segment_stats", {}),
            }
        if base.get("segment_partitions") or mf.get("add_segment_partitions"):
            out["segment_partitions"] = {
                **base.get("segment_partitions", {}),
                **mf.get("add_segment_partitions", {}),
            }
            out["partition_col"] = (
                mf.get("partition_col") or base.get("partition_col")
            )
        out["deletes"] = base.get("deletes", []) + mf.get("add_deletes", [])
        if not out.get("delete_keys"):
            out["delete_keys"] = base.get("delete_keys")
        if not out["deletes"]:
            out.pop("deletes")
            out.pop("delete_keys", None)
    else:
        out = mf
    if cache is not None:
        cache[version] = out
    return out


def _carry_live_metadata(
    manifest: dict, prev_full: dict, live_segments: list[str]
) -> None:
    """Carry every per-segment/table metadata family a FULL checkpoint
    must restate, filtered to the segments still live — the one place
    the carry-forward list exists (round-12 review: four hand-rolled
    commit loops each restated a different hand-picked subset, and the
    divergence silently stripped zone maps / partition tags from the
    chain on routine 32nd-commit checkpoints). Tombstones are NOT
    carried here: their lifecycle is mode-specific (appends carry,
    overwrites materialize) and stays with the caller."""
    live = set(live_segments)
    stats = {
        s: v for s, v in prev_full.get("segment_stats", {}).items()
        if s in live
    }
    if stats:
        manifest.setdefault("segment_stats", {}).update(stats)
    tags = {
        s: v for s, v in prev_full.get("segment_partitions", {}).items()
        if s in live
    }
    if tags:
        manifest.setdefault("segment_partitions", {}).update(tags)
        manifest.setdefault("partition_col", prev_full.get("partition_col"))


_COMMIT_RETRIES = 24

# Exactly-once streaming commits record their batch_id in the manifest;
# the newest manifest additionally carries a bounded LEDGER of the most
# recent (batch_id, version) pairs so a replay probe reads ONE manifest
# instead of walking the whole chain (O(chain) per commit made the
# sink's metadata cost quadratic over a table's life — VERDICT r11).
# 64 >> the one-batch replay window Structured Streaming actually needs.
_BATCH_LEDGER_KEEP = 64


class SchemaEvolutionError(ValueError):
    """An append's batch redefines an existing column with a DIFFERENT
    type. mergeSchema would accept the commit and then fail (or
    silently coerce) every later multi-segment scan — refuse at the
    commit point instead, naming the column (the Delta
    schema-enforcement behavior). Additive evolution (new columns) and
    batches omitting existing columns remain allowed."""


class SnapshotConflictError(RuntimeError):
    """A read-modify-write commit (MERGE, compaction) lost to a
    concurrent writer: the table's latest version advanced past the
    version the rewrite was computed from, so re-publishing it would
    silently discard the interleaved commit's rows. Re-run the
    operation against the new latest version (compaction does so
    automatically; MERGE surfaces this to the caller — the
    Iceberg/Delta validation-abort behavior)."""


_SEG_VERSION_RE = re.compile(r"^(?:seg|del)-(\d{6})")


def _seg_version(name: str) -> int:
    """Version prefix of a segment/tombstone directory name (0 for a
    foreign name). Names carry a writer-unique nonce suffix since the
    round-11 optimistic-concurrency work (``seg-000007-3fa9c1d2``);
    pre-nonce tables (``seg-000007``) parse identically."""
    m = _SEG_VERSION_RE.match(name)
    return int(m.group(1)) if m else 0


def _reposition_segment(fs, path, written: str | None, df, seg: str) -> str:
    """Land the commit's data at ``seg``. First attempt writes the
    DataFrame; a retry after a lost race just RENAMES the
    already-written directory to the new version's name — a metadata
    move, so optimistic retries cost milliseconds, not a second Spark
    job (the expensive-data/cheap-metadata split every optimistic
    committer needs to avoid starvation under contention). The nonce in
    the name makes both the write and the rename CONTENTION-FREE: no
    two writers ever touch the same data path, and a crashed writer's
    orphan just lingers (invisible — only a CAS-published manifest
    makes a segment visible) until vacuum reclaims it."""
    dst = _join(path, seg)
    if written is None:
        df.write.mode("overwrite").parquet(dst)
    elif written != dst:
        fs.rename(written, dst)
    return dst


def _schema_map(fields) -> dict:
    return {f.name: f.dataType.simpleString() for f in fields}


def _merged_schema(prev_raw: dict, new_schema: dict, path: str) -> dict:
    """Validate-and-merge an appending commit's schema map against the
    table's recorded one (see the enforcement note in
    :func:`_commit_version`); returns the map to record."""
    table_schema = dict(prev_raw.get("schema", {}))
    conflicts = {
        name: (table_schema[name], typ)
        for name, typ in new_schema.items()
        if name in table_schema and table_schema[name] != typ
    }
    if conflicts:
        raise SchemaEvolutionError(
            f"append under {path} changes column types "
            f"{{name: (table, batch)}}: {conflicts} — cast the batch "
            "or commit mode='overwrite' to replace the table"
        )
    table_schema.update(new_schema)
    return table_schema


def _canon_stat(v):
    """Canonical JSON-storable form of a segment-stat bound whose
    comparison order matches the column's: numerics and plain strings
    as-is; timestamps as FIXED-WIDTH microsecond strings (variable
    precision would make lexicographic order lie exactly at window
    boundaries — a wrongly skipped segment is a wrong ANSWER, since the
    exact filter can only narrow, never resurrect); dates as ISO."""
    import datetime

    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


# Bloom-filter tier (round 12b): per-segment bloom filters over KEY
# columns, stored inside the same per-segment stats record zone maps use
# — so they ride the delta-manifest / checkpoint-carry / vacuum
# machinery with zero new plumbing. Zone maps prune RANGE predicates;
# blooms prune POINT LOOKUPS on columns whose values interleave across
# segments (where every segment's [min, max] covers the probe and stats
# prune nothing — the streaming-upsert key shape). Sizing is ~16
# bits/distinct-key rounded to a power of two (FP ~0.2% at k=4),
# bounded below by _BLOOM_MIN_BITS and above by _BLOOM_MAX_BITS (16 KiB
# of bits — base64 ~21 KiB of manifest per column; segments with far
# more keys than that saturate toward scan-everything, never toward a
# wrong skip: the exact predicate re-applies on top. Jumbo segments
# would move blooms to per-segment sidecar files, the Iceberg-puffin
# tier — not needed at this format's manifest sizes). The hash is
# md5-of-the-string-cast sliced into _BLOOM_K positions, chosen because
# Spark (F.md5 over cast-to-string) and the driver-side probe (hashlib
# over str(value)) compute it IDENTICALLY for int and string keys — no
# JVM round-trip to probe a value.
_BLOOM_K = 4
_BLOOM_MIN_BITS = 1 << 10
_BLOOM_MAX_BITS = 1 << 17


def _bloom_bits(n_keys: int) -> int:
    m = _BLOOM_MIN_BITS
    while m < 16 * n_keys and m < _BLOOM_MAX_BITS:
        m <<= 1
    return m


def _bloom_positions_py(value, m: int) -> list[int]:
    """Driver-side probe positions for ``value`` — MUST mirror the
    Spark-side expression in :func:`_segment_blooms`: md5 of the
    string form, four 8-hex-digit slices mod ``m``. ``str(value)``
    matches Spark's cast-to-string for int and string keys (the
    supported probe types; floats/timestamps format differently and
    are refused at the lookup entry point)."""
    import hashlib

    hx = hashlib.md5(str(value).encode("utf-8")).hexdigest()
    return [int(hx[8 * i:8 * i + 8], 16) % m for i in range(_BLOOM_K)]


def _segment_blooms(df: DataFrame, bloom_cols: list[str], n_rows: int) -> dict:
    """Build the per-column bloom filters for the segment being
    committed — ONE small job over the increment (explode the k
    positions per row per column, distinct, collect): the collected set
    is bounded by k x m bits regardless of segment size, so the driver
    receives index-sized metadata, never data. NULLs are not indexed
    (a NULL probe is refused at lookup)."""
    import base64

    m = _bloom_bits(max(n_rows, 1))
    structs = []
    for ci, c in enumerate(bloom_cols):
        h = F.md5(F.col(c).cast("string"))
        for i in range(_BLOOM_K):
            pos = (
                F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10)
                .cast("bigint") % m
            )
            structs.append(F.struct(
                F.lit(ci).alias("c"), pos.alias("p")
            ))
    hits = (
        df.select(F.explode(F.array(*structs)).alias("s"))
        .select(F.col("s.c").alias("c"), F.col("s.p").alias("p"))
        .where(F.col("p").isNotNull())
        .distinct()
        .collect()
    )
    out = {}
    for ci, c in enumerate(bloom_cols):
        bits = bytearray(m // 8)
        for r in hits:
            if r["c"] == ci:
                p = r["p"]
                bits[p >> 3] |= 1 << (p & 7)
        out[c] = {
            "m": m, "k": _BLOOM_K,
            "b64": base64.b64encode(bytes(bits)).decode("ascii"),
        }
    return out


def _bloom_may_contain(rec: dict, values: list) -> bool:
    """Whether a segment's bloom record possibly holds ANY of the probe
    values (all k bits set for at least one)."""
    import base64

    bits = base64.b64decode(rec["b64"])
    m = rec["m"]
    return any(
        all((bits[p >> 3] >> (p & 7)) & 1
            for p in _bloom_positions_py(v, m))
        for v in values
    )


def _bloom_prune(manifest: dict, col: str, values: list) -> list[str]:
    """The segment directories a point lookup ``col IN values`` must
    scan: a segment is SKIPPED only when its recorded bloom proves no
    probe value can be present (all k bits set for none of them);
    segments without a bloom for ``col`` are conservatively kept — like
    zone maps, blooms change I/O, never answers (the exact predicate
    re-applies on top, so a false positive costs a scan, nothing
    else)."""
    stats = manifest.get("segment_stats", {})
    dirs = []
    for s in manifest["segments"]:
        rec = stats.get(s, {}).get("__bloom", {}).get(col)
        if rec is None or _bloom_may_contain(rec, values):
            dirs.append(s)
    return dirs


def _stats_aggs(stats_cols: list[str]) -> list:
    """The aggregate list behind segment stats — shared by the
    standalone job (:func:`_segment_stats`) and the observe-on-write
    path in :func:`_commit_version`."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in stats_cols:
        aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
    return aggs


def _stats_from_row(row, stats_cols: list[str]) -> dict:
    """Manifest stats dict from one aggregated row (a Row or the
    Observation.get mapping — both index by alias)."""
    out = {
        c: [_canon_stat(row[f"__lo_{c}"]), _canon_stat(row[f"__hi_{c}"])]
        for c in stats_cols
        if row[f"__lo_{c}"] is not None
    }
    # the row count rides the same single aggregate — it enables
    # metadata-only COUNT(*) (snapshot_row_count) for free
    out["__rows"] = row["__n"]
    return out


def _segment_stats(df: DataFrame, stats_cols: list[str]) -> dict:
    """Per-column [min, max] of the batch being committed — ONE small
    aggregate over the increment (cost proportional to new data, never
    the table), stored in the manifest so stat-pruned reads can skip
    whole segments without touching the data plane. The commit path
    itself rides these aggregates on the segment write via
    ``df.observe`` (zero extra pass); this standalone job remains for
    callers that need stats without writing."""
    row = df.agg(*_stats_aggs(stats_cols)).collect()[0]
    return _stats_from_row(row, stats_cols)


def _commit_version(
    df: DataFrame | None,
    path: str,
    mode: str,
    batch_id: int | None = None,
    base_version: int | None = None,
    extra: dict | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    prewritten: str | None = None,
    schema_fields=None,
    precomputed_stats: dict | None = None,
    spark: SparkSession | None = None,
) -> int:
    """Shared commit tail of :func:`write_snapshot` and
    :func:`write_snapshot_batch`: write the segment, then publish the
    manifest via COMPARE-AND-SWAP (the commit point). A lost race —
    another writer published this version number first — rebuilds the
    commit against the new latest manifest and retries: the segment is
    renamed to the new version's name (cheap; see
    :func:`_reposition_segment`) and the manifest's base is re-read,
    so concurrent appends serialize without losing updates.

    ``base_version`` declares a READ-MODIFY-WRITE commit: the content
    was computed from that version, so if the table's latest has
    advanced past it the blind retry would re-publish a stale rewrite
    and silently drop the interleaved commit's rows — raise
    :class:`SnapshotConflictError` instead (ADVICE r11).
    ``extra`` merges additional keys into the manifest (e.g. the
    compaction certificate ``compaction_of``).

    ``prewritten`` commits an ALREADY-WRITTEN segment-shaped directory
    (the Python DataSource writer's path: executors staged the parquet
    files, the driver commits metadata only) — ``df`` is None there,
    the schema comes from ``schema_fields``, and any stats come
    precomputed (e.g. row counts summed from parquet footers); the
    first CAS attempt just renames the staged directory into the
    version's segment name, so the existing reposition-on-retry
    machinery applies unchanged."""
    import time

    if (df is None) == (prewritten is None):
        raise ValueError("exactly one of df / prewritten")
    fs = get_fs(path, df.sparkSession if df is not None else spark)
    fs.makedirs(_join(path, _MANIFEST_DIR))
    written = prewritten
    nonce = uuid.uuid4().hex[:8]
    stats = precomputed_stats
    obs = None
    bloom_src = df
    if df is not None and stats is None and (stats_cols or bloom_cols):
        # stats RIDE the segment write (guide §1: one pass, not two):
        # observe() collects the min/max/count aggregates as metrics of
        # the write job itself, so a stats-recording commit touches the
        # increment once. Blooms still need their own bounded job (the
        # filter is sized from the observed row count, known only after
        # the write) — harvested right after the first segment write
        # below.
        obs = Observation()
        df = df.observe(obs, *_stats_aggs(stats_cols or []))
    new_schema = _schema_map(
        df.schema.fields if df is not None else schema_fields
    )
    for attempt in range(_COMMIT_RETRIES):
        versions = _snapshot_versions(fs, path)
        version = (versions[-1] + 1) if versions else 1
        if base_version is not None and version != base_version + 1:
            raise SnapshotConflictError(
                f"read-modify-write commit under {path} was computed "
                f"from version {base_version} but the table is now at "
                f"{version - 1} — re-run against the new latest"
            )
        seg = f"{_DATA_DIR}/seg-{version:06d}-{nonce}"
        written = _reposition_segment(fs, path, written, df, seg)
        if obs is not None and stats is None:
            # first attempt just wrote the segment — the observed
            # metrics are ready (CAS retries rename, never rewrite, so
            # this harvests exactly once)
            stats = _stats_from_row(obs.get, stats_cols or [])
            if bloom_cols:
                stats["__bloom"] = _segment_blooms(
                    bloom_src, bloom_cols, stats["__rows"]
                )
        prev = _read_manifest(fs, path, versions[-1]) if versions else {}
        # SCHEMA ENFORCEMENT at the commit point (round 12): every
        # manifest carries the table's field->type map RAW; an append
        # whose shared columns CHANGE TYPE is refused here — at commit,
        # with a named column — instead of corrupting every later
        # multi-segment scan with a mergeSchema type conflict. New
        # columns are additive evolution (allowed, recorded); a batch
        # may omit existing columns (old readers null-pad). Overwrite
        # commits replace the schema outright. Pre-round-12 manifests
        # carry no schema: recording starts at the next commit.
        table_schema = (
            _merged_schema(prev, new_schema, path) if mode == "append"
            else dict(new_schema)
        )
        depth = prev.get("delta_depth", 0)
        if mode == "append" and versions and depth + 1 < _FULL_EVERY:
            # DELTA commit: O(1) metadata — the raw prev manifest
            # already carries everything needed (depth, ledger,
            # delete_keys); no resolution, no segment-list restatement
            manifest: dict = {
                "version": version,
                "delta_base": versions[-1],
                "delta_depth": depth + 1,
                "add_segments": [seg],
            }
            if stats:
                manifest["add_segment_stats"] = {seg: stats}
        else:
            # FULL checkpoint: every _FULL_EVERY-th commit in a delta
            # chain, every overwrite, and version 1 — resolving any
            # version therefore walks at most _FULL_EVERY manifests
            full_prev = (
                _resolve_manifest(fs, path, versions[-1])
                if versions and mode == "append" else {}
            )
            manifest = {
                "version": version,
                "segments": full_prev.get("segments", []) + [seg],
            }
            _carry_live_metadata(
                manifest, full_prev, full_prev.get("segments", [])
            )
            if stats:
                manifest.setdefault("segment_stats", {})[seg] = stats
            # appends preserve live tombstones (an append must not
            # resurrect erased keys); overwrite commits start clean —
            # the new segment IS the table, so compaction materializes
            # deletions physically
            if full_prev.get("deletes"):
                manifest["deletes"] = full_prev["deletes"]
                manifest["delete_keys"] = full_prev["delete_keys"]
        manifest["schema"] = table_schema
        manifest["committed_at"] = int(time.time() * 1_000_000)
        # the batch ledger rides EVERY commit RAW (appends, deltas,
        # overwrites, compactions) so a streaming replay probe after
        # any maintenance operation still finds its batch_id in the
        # newest manifest alone
        ledger = prev.get("recent_batches", [])
        if batch_id is not None:
            manifest["batch_id"] = batch_id
            ledger = ledger + [[batch_id, version]]
        if ledger:
            manifest["recent_batches"] = ledger[-_BATCH_LEDGER_KEEP:]
        if extra:
            manifest.update(extra)
        if fs.write_text_exclusive(
            _manifest_path(path, version), json.dumps(manifest)
        ):
            return version
        time.sleep(0.01 * (attempt + 1))  # linear backoff under thrash
    raise RuntimeError(
        f"snapshot commit lost {_COMMIT_RETRIES} optimistic races under "
        f"{path} — pathological writer contention"
    )


def write_snapshot(
    df: DataFrame, path: str, mode: str = "append",
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """Commit ``df`` as a new immutable snapshot version; returns the
    committed version number. Version 1 creates the table. ``mode``:
    ``"append"`` — the new version sees all previous segments plus this
    one; ``"overwrite"`` — the new version sees ONLY this segment (the
    table-replacement commit; older versions stay readable until
    :func:`vacuum_snapshots` reclaims their segments). The manifest
    rename is the commit point either way."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode={mode!r}: need 'append' or 'overwrite'")
    return _commit_version(
        df, path, mode, stats_cols=stats_cols, bloom_cols=bloom_cols
    )


def vacuum_snapshots(
    path: str, keep_last: int = 1, spark: SparkSession | None = None
) -> tuple[int, int]:
    """Retention: keep only the newest ``keep_last`` versions and delete
    every segment directory no kept manifest references — the GC step
    that makes ``mode="overwrite"`` reclaim space (append-only chains
    share all segments with the latest version, so vacuum deletes
    nothing there — by design, old versions stay time-travelable for
    free). Runs under the module's single-writer contract (docstring);
    defensively, segments numbered BEYOND the newest committed version
    are never touched — they belong to an in-flight (uncommitted)
    append, not to garbage (ADVICE r10). Deletion order is crash-safe:
    old MANIFESTS go first (the commit dimension shrinks atomically per
    unlink), orphaned segments after — a crash mid-vacuum leaves
    unreferenced segments, never a readable version with missing data.
    Returns (manifests_dropped, segments_deleted)."""
    if keep_last < 1:
        raise ValueError(f"keep_last={keep_last}: need >= 1")
    fs = get_fs(path, spark)
    versions = _snapshot_versions(fs, path)
    keep = versions[-keep_last:]
    latest = versions[-1] if versions else 0
    referenced = set()
    # a kept DELTA manifest resolves through its base chain, so those
    # base manifests must survive too (they are bytes, not data; the
    # chain is at most _FULL_EVERY long per kept version)
    keep_closure = set(keep)
    _mf_cache: dict = {}
    for v in keep:
        mf = _resolve_manifest(fs, path, v, _mf_cache)
        referenced.update(mf["segments"])
        referenced.update(mf.get("deletes", []))
        w = v
        while True:
            raw = _read_manifest(fs, path, w)
            if "delta_base" not in raw:
                break
            w = raw["delta_base"]
            keep_closure.add(w)
    drop = [v for v in versions if v not in keep_closure]
    for v in drop:
        fs.unlink(_manifest_path(path, v))
    data_dir = _join(path, _DATA_DIR)
    n_seg = 0
    for d in fs.listdir(data_dir):
        rel = f"{_DATA_DIR}/{d}"
        if rel in referenced:
            continue
        if _seg_version(d) > latest:
            continue  # in-flight writer's uncommitted segment
        fs.rmtree(_join(data_dir, d))
        n_seg += 1
    return len(drop), n_seg


def write_snapshot_batch(
    df: DataFrame, path: str, batch_id: int,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """Exactly-once twin of :func:`write_snapshot` for streaming
    ``foreachBatch`` sinks: the manifest records ``batch_id``, and a
    RETRY of an already-committed batch (Structured Streaming replays
    the last batch after a crash) finds its id in the manifest chain and
    returns the existing version instead of double-committing — the
    idempotent-sink contract foreachBatch requires. A retry of a batch
    that crashed BETWEEN segment write and manifest rename finds no
    committed batch_id and recommits the same version number, paving
    over the orphaned segment (the overwrite-mode segment write in
    :func:`_commit_version` — ADVICE r10). Returns the version holding
    this batch.

    The replay probe is O(1) manifests, not O(chain): the newest
    manifest carries a bounded ledger of the most recent
    (batch_id, version) pairs (every commit copies it forward), so a
    10^4-commit streaming table pays constant metadata per commit
    instead of a quadratic cumulative walk (VERDICT r11 item 3). Batch
    ids are monotonic for both real streaming batch ids and the
    pipeline's upstream-version keys, so a probe id NEWER than the
    ledger's newest entry is provably uncommitted; an id at-or-below
    the newest but absent (older than the ledger window, or committed
    before the ledger existed) falls back to the exhaustive chain walk
    — the rare path, correctness-preserving either way."""
    fs = get_fs(path, df.sparkSession)
    hit = _committed_batch_version(fs, path, batch_id)
    if hit is not None:
        return hit
    return _commit_version(df, path, "append", batch_id=batch_id,
                           stats_cols=stats_cols, bloom_cols=bloom_cols)


def _committed_batch_version(fs, path: str, batch_id: int) -> int | None:
    """The version already holding ``batch_id`` (None if uncommitted) —
    the replay probe shared by :func:`write_snapshot_batch` and the
    DataSource stream writer: one manifest read through the bounded
    ledger; ids at-or-below the ledger's newest but absent fall back to
    the exhaustive chain walk (the rare legacy path)."""
    versions = _snapshot_versions(fs, path)
    ledger = (
        _read_manifest(fs, path, versions[-1]).get("recent_batches")
        if versions else None
    )
    if ledger:
        hit = next((v for b, v in ledger if b == batch_id), None)
        if hit is not None:
            return hit
        if batch_id > ledger[-1][0]:
            return None
    for v in reversed(versions):
        if _read_manifest(fs, path, v).get("batch_id") == batch_id:
            return v
    return None


def compact_snapshots(
    spark: SparkSession,
    path: str,
    sort_by: str | None = None,
    target_segments: int = 16,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """Rewrite the LATEST version's segment chain into few segments,
    committed as a new ``overwrite`` version — the small-files
    compaction every append-heavy snapshot table eventually needs
    (each streaming micro-batch commit is its own segment; scan
    planning degrades one task per tiny file). Contents are identical
    by construction (a reorder at most, never a transformation);
    history stays time-travelable until :func:`vacuum_snapshots`
    reclaims it.

    Without ``sort_by`` the rewrite is ONE segment (optionally
    re-stated with fresh ``stats_cols`` / ``bloom_cols`` metadata).
    With ``sort_by`` the rewrite is RANGE-CLUSTERED (round 12b — the
    Delta OPTIMIZE ZORDER / Iceberg sort-order rewrite reduced to one
    dimension): rows are range-bucketed on ``sort_by`` into up to
    ``target_segments`` segments (quantile boundaries, so skew lands
    evenly), sorted within each, and each segment records fresh
    [min, max] stats for ``stats_cols`` (default: ``sort_by``). A
    plain compaction DESTROYS pruning — every windowed read scans the
    one merged segment forever after — while a clustered one makes the
    zone maps tighter than the append chain ever had them: micro-batch
    appends interleave the sort dimension across segments, the rewrite
    separates it. ONE Spark job writes all buckets (a hash
    repartition on the bucket id + a per-bucket sort, then a
    partitioned write renamed into segment directories); one bounded
    aggregate computes all segment stats. ``bloom_cols`` requires the
    single-segment path (per-bucket bloom collection is index-sized
    per bucket but unbounded across many buckets — refused rather
    than silently heavy).

    The manifest records ``compaction_of: <base>`` — the certificate
    that this overwrite is row-identical to version ``base`` — so the
    change data feed treats it as a NO-OP instead of refusing
    (VERDICT r11 item 2: incremental consumers keep running across the
    maintenance operation the module itself prescribes). The
    certificate is only sound if the rewrite really was computed from
    the version it replaces, so the commit pins ``base_version``: a
    concurrent append makes the commit lose with
    :class:`SnapshotConflictError` and the compaction re-runs against
    the new latest (never re-publishing a stale rewrite that would
    drop the interleaved rows). The streaming batch ledger rides the
    commit, so an exactly-once sink's replay probe still answers from
    the newest manifest. Returns the new version number."""
    if sort_by is not None and bloom_cols:
        raise ValueError(
            "bloom_cols needs the single-segment path (omit sort_by); "
            "rebuild blooms per-bucket is the not-built sidecar tier"
        )
    if target_segments < 1:
        raise ValueError(f"target_segments={target_segments}: need >= 1")
    last_err: Exception | None = None
    for _ in range(3):
        versions = snapshot_versions(path, spark)
        if not versions:
            raise FileNotFoundError(f"no committed snapshots under {path}")
        base = versions[-1]
        try:
            if sort_by is None:
                return _commit_version(
                    read_snapshot(spark, path, base), path, "overwrite",
                    base_version=base, extra={"compaction_of": base},
                    stats_cols=stats_cols, bloom_cols=bloom_cols,
                )
            return _compact_clustered(
                spark, path, base, sort_by, target_segments,
                stats_cols or [sort_by],
            )
        except SnapshotConflictError as e:
            last_err = e  # a writer appended mid-rewrite; recompact
    raise last_err


def _compact_clustered(
    spark: SparkSession, path: str, base: int, sort_by: str,
    target_segments: int, stats_cols: list[str],
) -> int:
    """One attempt of the range-clustered rewrite (see
    :func:`compact_snapshots`); raises :class:`SnapshotConflictError`
    on a lost CAS race so the caller re-runs against the new latest."""
    import time

    fs = get_fs(path, spark)
    df = read_snapshot(spark, path, base)
    version = base + 1
    nonce = uuid.uuid4().hex[:8]

    # range boundaries from quantiles of the sort dimension (cast to
    # double: works for numerics and timestamps alike) — a bounded
    # sketch pass, never a sort of the table. Duplicate boundaries
    # (heavy skew) just leave some buckets empty; empty buckets write
    # no directory and list no segment.
    n_cuts = target_segments - 1
    probe = df.select(F.col(sort_by).cast("double").alias("__s"))
    cuts = sorted(set(probe.approxQuantile(
        "__s", [(i + 1) / target_segments for i in range(n_cuts)], 0.001,
    ))) if n_cuts else []
    bucket = F.lit(0)
    for b in cuts:
        bucket = bucket + (F.col(sort_by).cast("double") > F.lit(b)).cast("int")
    # NULL sort keys (no quantile, no order) land in bucket 0 rather
    # than a NULL bucket the partitioned write would mangle
    bucket = F.coalesce(bucket.cast("int"), F.lit(0))

    # one job: bucket-partitioned, sorted-within-bucket write into a
    # dot-prefixed staging dir (hidden from every parquet scan), then
    # per-bucket directory renames into versioned segment names
    staging = _join(path, _DATA_DIR, f".compact-{nonce}")
    (
        df.withColumn("__cb", bucket)
        .repartition(target_segments, "__cb")
        .sortWithinPartitions("__cb", sort_by)
        .write.partitionBy("__cb").mode("overwrite").parquet(staging)
    )
    # one bounded aggregate for every bucket's stats (same shape as
    # _segment_stats, grouped)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in stats_cols:
        aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
    stat_rows = {
        r["__cb"]: r
        for r in df.withColumn("__cb", bucket).groupBy("__cb").agg(*aggs)
        .collect()
    }
    segs, seg_stats = [], {}
    for d in sorted(fs.listdir(staging)):
        if not d.startswith("__cb="):
            continue
        cb = int(d.split("=", 1)[1])
        seg = f"{_DATA_DIR}/seg-{version:06d}-{nonce}-c{cb:04d}"
        fs.rename(_join(staging, d), _join(path, seg))
        segs.append(seg)
        row = stat_rows[cb]
        rec = {
            c: [_canon_stat(row[f"__lo_{c}"]), _canon_stat(row[f"__hi_{c}"])]
            for c in stats_cols if row[f"__lo_{c}"] is not None
        }
        rec["__rows"] = row["__n"]
        seg_stats[seg] = rec
    fs.rmtree(staging)
    if not segs:
        raise ValueError(f"clustered compaction of an empty table {path}")

    prev_raw = _read_manifest(fs, path, base)
    manifest = {
        "version": version,
        "segments": segs,
        "segment_stats": seg_stats,
        "compaction_of": base,
        "schema": {f.name: f.dataType.simpleString()
                   for f in df.schema.fields},
    }
    manifest["committed_at"] = int(time.time() * 1_000_000)
    if prev_raw.get("recent_batches"):
        manifest["recent_batches"] = prev_raw["recent_batches"]
    if fs.write_text_exclusive(
        _manifest_path(path, version), json.dumps(manifest)
    ):
        return version
    raise SnapshotConflictError(
        f"clustered compaction under {path} was computed from version "
        f"{base} but lost the commit race — re-running against the new "
        "latest"
    )


def _added_segments(
    fs, path: str, versions: list[int], from_version: int, to_version: int
) -> list[tuple[int, list[str]]]:
    """The pure-METADATA change-feed walk shared by
    :func:`read_snapshot_changes` and the Python DataSource stream
    reader (snapshot_datasource.py): the (version, added segment dirs)
    pairs in ``(from_version, to_version]``, validating the insert-only
    contract — overwrites and tombstone changes refuse, a certified
    compaction re-bases as a no-op. Segment names are verified to carry
    their introducing version (the read paths tag rows from the name)."""
    # resolve with a shared cache: the ascending walk makes each
    # version's resolution O(1) on top of its predecessor's
    _mf_cache: dict = {}
    base_manifest = (
        _resolve_manifest(fs, path, from_version, _mf_cache)
        if from_version else {}
    )
    base = base_manifest.get("segments", [])
    cur_deletes = base_manifest.get("deletes", [])
    new_by_version: list[tuple[int, list[str]]] = []
    seen = list(base)
    prev_v = from_version
    for v in versions:
        if not (from_version < v <= to_version):
            continue
        mf = _resolve_manifest(fs, path, v, _mf_cache)
        segs = mf["segments"]
        comp_of = mf.get("compaction_of")
        if comp_of is not None:
            # certified row-identical rewrite: adds nothing to the
            # feed; re-base the diff (and the tombstone baseline —
            # compaction materializes suppressions, which is also
            # row-invisible) on the compacted manifest
            if comp_of != prev_v:
                raise ValueError(
                    f"version {v} claims compaction_of={comp_of} but "
                    f"follows {prev_v} — certificate does not match "
                    "the chain; refusing the CDF"
                )
            seen = segs
            cur_deletes = mf.get("deletes", [])
            prev_v = v
            continue
        # set-based membership: a 10^4-commit chain would otherwise pay
        # a cubic-ish list-in-list scan across the version loop
        segs_set = set(segs)
        missing = [s for s in seen if s not in segs_set]
        if missing:
            raise ValueError(
                f"version {v} is not an append (drops {missing}) — "
                "insert-only CDF is undefined across overwrite commits"
            )
        if mf.get("deletes", []) != cur_deletes:
            raise ValueError(
                f"version {v} changes the tombstone set — insert-only "
                "CDF is undefined across merge-on-read deletes"
            )
        seen_set = set(seen)
        added = [s for s in segs if s not in seen_set]
        if added:
            new_by_version.append((v, added))
        seen = segs
        prev_v = v
    for v, segs in new_by_version:
        for s in segs:
            if _seg_version(posixpath.basename(s)) != v:
                raise ValueError(
                    f"segment {s!r} introduced at version {v} does not "
                    "carry its version in its name — cannot tag the CDF"
                )
    return new_by_version


def read_snapshot_changes(
    spark: SparkSession, path: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Change data feed (insert-only): the rows ADDED after
    ``from_version`` up to and including ``to_version`` (default:
    latest), each tagged with the BIGINT ``_commit_version`` that
    introduced it — the incremental-consumption read that lets a
    downstream training pipeline process only what changed since its
    last run instead of re-scanning the table (the Delta CDF / Iceberg
    incremental-scan idea, reduced to the append-only case).

    Because segments are immutable and a manifest lists everything its
    version sees, the delta between two versions is exactly the SEGMENT
    LIST DIFFERENCE — an O(metadata) computation; the data plane scans
    only the new segments, so the cost of "what's new" is proportional
    to the new data, never the table. Only APPEND chains qualify: an
    ``overwrite`` commit inside the range rewrites visibility instead
    of adding rows, so insert-only semantics would be a lie there —
    detected (some prior segment absent from the newer manifest) and
    refused loudly. The ONE certified exception is a
    :func:`compact_snapshots` commit: its manifest carries
    ``compaction_of: <base>``, the commit-time guarantee (conflict-
    checked against concurrent writers) that it is row-identical to
    the version it replaces — the feed treats it as a no-op, re-bases
    the segment diff on its segment list, and keeps flowing, so
    incremental consumers survive the maintenance operation every
    append-heavy table needs (VERDICT r11 item 2). Note the feed of a
    PRE-compaction range reads the original small segments (still
    listed by their manifests) — :func:`vacuum_snapshots` retention is
    what bounds how far back a consumer may lag.
    ``from_version == to_version`` returns an empty frame with the
    right schema; an empty table (no commits, cursor 0) yields an
    empty zero-row frame instead of raising (ADVICE r11)."""
    fs = get_fs(path, spark)
    versions = _snapshot_versions(fs, path)
    if to_version is None:
        to_version = versions[-1] if versions else 0
    if not versions and from_version == 0 and to_version == 0:
        # an upstream table that hasn't had its first commit: the
        # consumer/pipeline sees "nothing new", not a crash
        return spark.range(0).select(
            F.col("id").alias("_commit_version")
        )
    # from_version=0 is the before-anything cursor: the delta is the
    # whole table, every row tagged by its introducing commit (what a
    # brand-new incremental consumer reads first)
    for v in (from_version, to_version):
        if v not in versions and not (v == 0 and v == from_version):
            raise ValueError(f"version {v} not in {versions}")
    if to_version < from_version:
        raise ValueError(
            f"to_version {to_version} < from_version {from_version}"
        )
    new_by_version = _added_segments(fs, path, versions,
                                     from_version, to_version)
    if not new_by_version:
        # empty delta with the target version's schema
        return read_snapshot(spark, path, to_version).withColumn(
            "_commit_version", F.lit(to_version).cast("bigint")
        ).limit(0)
    # ONE scan over every added segment, version derived from the
    # segment name via the scanned file's path — a per-version
    # read+union built 500 separate scans whose schema/file-listing
    # analysis alone cost ~37 s on a 500-commit chain (measured, NOTES.md
    # "Snapshot manifest-chain scaling"); one multi-dir scan plans in
    # ~1 s. The name IS the introducing version by construction
    # (_commit_version writes data/seg-{version:06d}); the shared
    # _added_segments walk re-validates that for every added directory,
    # so a foreign/renamed segment fails loudly instead of mistagging.
    dirs = [s for _, segs in new_by_version for s in segs]
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(*[_join(path, d) for d in dirs])
        .withColumn(
            "_commit_version",
            F.regexp_extract(
                F.col("_metadata.file_path"), r"/seg-(\d{6})[-/]", 1
            ).cast("bigint"),
        )
    )


def consume_snapshot_changes(
    spark: SparkSession, path: str, consumer_path: str
) -> tuple[int, DataFrame]:
    """Exactly-once INCREMENTAL CONSUMER over the change data feed: each
    call returns ``(latest_version, df)`` where ``df`` is everything
    committed after this consumer's cursor (its own tiny checkpoint
    file — a consumer group of one, the Kafka-offset idea on table
    versions). The cursor starts at 0, so a brand-new consumer's first
    read is the whole table, tagged per introducing commit. The caller
    processes ``df`` and then calls :func:`ack_snapshot_consume` with
    the returned version — cursor advances ONLY on ack, so a consumer
    that crashes mid-processing re-reads the same delta on restart
    (at-least-once delivery; acks make it exactly-once end-to-end when
    the downstream write is idempotent, e.g. another snapshot table's
    batch writer). A fully caught-up consumer gets an empty frame with
    the right schema."""
    fs = get_fs(consumer_path, spark)
    cursor = 0
    if fs.exists(consumer_path):
        cursor = json.loads(fs.read_text(consumer_path))["version"]
    versions = snapshot_versions(path, spark)
    latest = versions[-1] if versions else 0
    if cursor > latest:
        raise ValueError(
            f"consumer cursor {cursor} is ahead of the table ({latest}) — "
            "wrong table or a vacuumed/rebuilt one"
        )
    return latest, read_snapshot_changes(
        spark, path, from_version=cursor, to_version=latest
    )


def ack_snapshot_consume(
    consumer_path: str, version: int, spark: SparkSession | None = None
) -> None:
    """Advance the consumer cursor to ``version`` (atomic write-temp-
    then-rename, same commit discipline as the table's manifests)."""
    fs = get_fs(consumer_path, spark)
    parent = posixpath.dirname(consumer_path)
    if parent:
        fs.makedirs(parent)
    fs.write_text_atomic(consumer_path, json.dumps({"version": version}))


def delete_snapshot_keys(
    keys_df: DataFrame, path: str, key_cols: list[str]
) -> int:
    """MERGE-ON-READ deletes: commit the given keys as a TOMBSTONE
    file — an O(|deletes|) commit that suppresses those keys from
    every read (all segments, all future appends) until
    :func:`compact_snapshots` materializes the deletion physically.
    This is the GDPR-erasure shape: suppression is immediate and
    cheap NOW, the table rewrite happens on the maintenance schedule
    (:func:`merge_snapshot` is the copy-on-write alternative that pays
    the rewrite up front). Semantics are KEY tombstones, not Delta's
    per-file positional vectors: a tombstoned key is suppressed
    retroactively AND prospectively — re-inserting it requires a
    compaction (which clears all tombstones) first; the read path
    makes that explicit rather than silently resurrecting erased data.
    Tombstone files ride the same manifest/vacuum lifecycle as data
    segments. Returns the committed version."""
    import time

    spark = keys_df.sparkSession
    fs = get_fs(path, spark)
    written = None
    nonce = uuid.uuid4().hex[:8]
    for attempt in range(_COMMIT_RETRIES):
        versions = _snapshot_versions(fs, path)
        if not versions:
            raise FileNotFoundError(f"no committed snapshots under {path}")
        prev_raw = _read_manifest(fs, path, versions[-1])
        prev = _resolve_manifest(fs, path, versions[-1])
        if prev.get("delete_keys") not in (None, key_cols):
            raise ValueError(
                f"tombstone key columns {key_cols} != existing "
                f"{prev['delete_keys']} — one key per table"
            )
        version = versions[-1] + 1
        del_dir = f"{_DATA_DIR}/del-{version:06d}-{nonce}"
        written = _reposition_segment(
            fs, path, written,
            keys_df.select(*key_cols).distinct(), del_dir,
        )
        depth = prev_raw.get("delta_depth", 0)
        if depth + 1 < _FULL_EVERY:
            # tombstones are delta commits too — O(1) metadata
            manifest = {
                "version": version,
                "delta_base": versions[-1],
                "delta_depth": depth + 1,
                "add_deletes": [del_dir],
                "delete_keys": key_cols,
            }
        else:
            manifest = {
                "version": version,
                "segments": prev["segments"],
                "deletes": prev.get("deletes", []) + [del_dir],
                "delete_keys": key_cols,
            }
            _carry_live_metadata(manifest, prev, prev["segments"])
        if prev_raw.get("schema"):
            manifest["schema"] = prev_raw["schema"]
        manifest["committed_at"] = int(time.time() * 1_000_000)
        if prev_raw.get("recent_batches"):
            manifest["recent_batches"] = prev_raw["recent_batches"]
        if fs.write_text_exclusive(
            _manifest_path(path, version), json.dumps(manifest)
        ):
            return version
        time.sleep(0.01 * (attempt + 1))
    raise RuntimeError(
        f"tombstone commit lost {_COMMIT_RETRIES} optimistic races under "
        f"{path} — pathological writer contention"
    )


def pipeline_snapshot_changes(
    spark: SparkSession,
    src_path: str,
    consumer_path: str,
    dst_path: str,
    transform,
) -> int:
    """One cycle of an EXACTLY-ONCE table-to-table incremental
    pipeline: consume the upstream delta, apply ``transform``
    (DataFrame -> DataFrame), commit the result downstream as a batch
    keyed by the upstream version, THEN ack the cursor. The ordering
    makes every crash window safe:

    - crash before the downstream commit: cursor unmoved, retry
      re-consumes the same delta and recomputes — nothing was written;
    - crash AFTER the downstream commit, before the ack: retry
      re-consumes the same delta, but ``write_snapshot_batch`` finds
      ``batch_id == version`` already committed and returns the
      existing version instead of double-writing — then the ack lands;
    - crash after the ack: the cycle is complete; the next cycle
      consumes only newer commits.

    The commit-then-ack retry is only idempotent when the retry
    presents the SAME batch_id — which stops being true if a new
    upstream commit lands inside the crash window (the retry would
    consume the old delta MERGED with the new rows under a NEW
    batch_id, and the exact-match dedup would happily double-commit
    the old rows — ADVICE r11). So each cycle first derives the
    EFFECTIVE cursor as max(cursor file, newest batch_id already
    committed downstream) and repairs the cursor file before
    consuming: the crash window closes itself on the next cycle
    regardless of what lands upstream in between.

    A caught-up upstream is a no-op (no downstream commit, no ack
    churn). Returns the upstream version this cycle is synced to."""
    cursor = 0
    fs = get_fs(consumer_path, spark)
    if fs.exists(consumer_path):
        cursor = json.loads(fs.read_text(consumer_path))["version"]
    committed = _newest_committed_batch(spark, dst_path)
    if committed > cursor:
        ack_snapshot_consume(consumer_path, committed, spark)
        cursor = committed
    version, delta = consume_snapshot_changes(spark, src_path, consumer_path)
    if version > cursor:
        write_snapshot_batch(transform(delta), dst_path, batch_id=version)
        ack_snapshot_consume(consumer_path, version, spark)
    return version


def _newest_committed_batch(spark: SparkSession, path: str) -> int:
    """Highest batch_id committed to the snapshot table at ``path``
    (0 if none): one manifest read via the bounded batch ledger, with
    the exhaustive chain walk as the legacy-table fallback."""
    fs = get_fs(path, spark)
    versions = _snapshot_versions(fs, path)
    if not versions:
        return 0
    newest = _read_manifest(fs, path, versions[-1])
    ledger = newest.get("recent_batches")
    if ledger:
        return max(b for b, _ in ledger)
    return max(
        (_read_manifest(fs, path, v).get("batch_id") or 0)
        for v in versions
    )


def merge_snapshot(
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    delete_col: str | None = None,
) -> int:
    """MERGE INTO for the snapshot format: apply keyed UPSERTS (and,
    when ``delete_col`` names a boolean column, DELETES) to the latest
    version and commit the result as a new ``overwrite`` version —
    copy-on-write merge, the Delta/Iceberg MERGE reduced to its
    essential move. History stays time-travelable (the pre-merge
    version still reads exactly as committed) until
    :func:`vacuum_snapshots` reclaims it.

    The merge itself is the engine's union+window CDC pattern (see
    operators/merge.py): no join — current rows tagged rank 1, update
    rows rank 2, one window per key keeps the highest-rank row, delete
    rows drop out after winning. One shuffle on the merge key; at
    100 TB the rewrite cost is the table scan every copy-on-write MERGE
    pays (merge-on-read deletion vectors are the deferred-cost tier —
    see operators/deletion_vectors.py for that trade implemented on
    plain parquet).

    Under the optimistic multi-writer contract the MERGE is a
    read-modify-write: the commit pins the version the merge was
    computed from, and if a concurrent writer advanced the table past
    it the commit raises :class:`SnapshotConflictError` instead of
    re-publishing the stale rewrite (which would silently discard the
    interleaved rows — ADVICE r11; Iceberg/Delta abort such commits on
    validation). The caller re-runs the merge against the new latest.
    Returns the committed version."""
    from pyspark.sql import Window

    spark = updates.sparkSession
    base = snapshot_versions(path, spark)
    if not base:
        raise FileNotFoundError(f"no committed snapshots under {path}")
    base_version = base[-1]
    current = read_snapshot(spark, path, base_version)
    if delete_col is None:
        upd = updates.withColumn("__del", F.lit(False))
    else:
        upd = updates.withColumn(
            "__del", F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    # SQL MERGE semantics: a key matched by TWO update rows is an error
    # (and silently nondeterministic under the window below) — detect on
    # the small side before touching the table
    dup = (
        upd.groupBy(*key_cols).count().filter(F.col("count") > 1).limit(1)
    ).collect()
    if dup:
        raise ValueError(
            f"updates contain duplicate merge keys (e.g. {dup[0]}) — "
            "MERGE requires each target row matched at most once"
        )
    data_cols = [c for c in upd.columns if c != "__del"]
    missing = set(current.columns) - set(data_cols)
    if missing:
        raise ValueError(
            f"updates are missing table columns {sorted(missing)} — the "
            "copy-on-write MERGE rewrites whole rows, so a column subset "
            "would silently DESTROY the omitted columns' data; select "
            "the full row shape (carry current values for untouched "
            "columns) or use delete/append instead"
        )
    cur = current.select(*data_cols).withColumn(
        "__del", F.lit(False)
    ).withColumn("__rank", F.lit(1))
    merged = (
        cur.unionByName(upd.withColumn("__rank", F.lit(2)))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(*key_cols).orderBy(F.desc("__rank"))
            ),
        )
        .filter((F.col("__rn") == 1) & (~F.col("__del")))
        .drop("__rank", "__rn", "__del")
    )
    return _commit_version(
        merged, path, "overwrite", base_version=base_version
    )


def _write_partition_segments(
    fs, path: str, df: DataFrame, partition_col: str,
    version: int, nonce: str, written: dict[str, str],
) -> tuple[list[str], dict[str, str]]:
    """One segment directory PER PARTITION VALUE at ``version`` —
    the layout that makes partition-level drops exact (a segment is
    droppable iff its single partition value is replaced). Values are
    compared as strings (cast once, both at write and at replace), so
    any orderable partition type works. ``written`` memoizes
    value -> already-written dir across CAS retries: a retry renames
    the directories to the new version's names instead of re-running
    the Spark jobs (the same cheap-metadata reposition appends use).
    One write job per AFFECTED partition value — the partition-
    overwrite workload is a backfill touching few partitions; bulk
    initial loads should use plain appends or accept the one-off
    cost."""
    raw_vals = [
        r[0] for r in
        df.select(F.col(partition_col).cast("string")).distinct().collect()
    ]
    if None in raw_vals:
        raise ValueError(
            f"NULL {partition_col!r} values in the batch — a NULL row "
            "belongs to no partition segment and would be silently "
            "dropped; fill or filter them first"
        )
    vals = sorted(raw_vals)
    if not vals:
        raise ValueError("no partition values in the batch")
    segs, tags = [], {}
    for i, val in enumerate(vals):
        seg = f"{_DATA_DIR}/seg-{version:06d}-{nonce}-p{i:04d}"
        src_dir = written.get(val)
        part_df = df.filter(F.col(partition_col).cast("string") == val)
        written[val] = _reposition_segment(fs, path, src_dir, part_df, seg)
        segs.append(seg)
        tags[seg] = val
    return segs, tags


def write_snapshot_partitioned(
    df: DataFrame, path: str, partition_col: str
) -> int:
    """Append ``df`` as PARTITION-TAGGED segments: one segment per
    distinct ``partition_col`` value, each tagged in the manifest —
    the layout :func:`overwrite_snapshot_partitions` needs to replace
    partitions at the METADATA level (zero rewrite of untouched
    partitions) and :func:`read_snapshot_partitions` needs to prune
    scans to the asked-for partitions before touching data. The
    partition column stays a normal data column inside each segment
    (no Hive-style directory encoding), so every other read path is
    unchanged. Returns the committed version."""
    import time

    spark = df.sparkSession
    fs = get_fs(path, spark)
    fs.makedirs(_join(path, _MANIFEST_DIR))
    nonce = uuid.uuid4().hex[:8]
    written: dict[str, str] = {}
    for attempt in range(_COMMIT_RETRIES):
        versions = _snapshot_versions(fs, path)
        version = (versions[-1] + 1) if versions else 1
        prev_raw = _read_manifest(fs, path, versions[-1]) if versions else {}
        prev_pcol = None
        if versions:
            resolved_prev = _resolve_manifest(fs, path, versions[-1])
            prev_pcol = resolved_prev.get("partition_col")
            if prev_pcol not in (None, partition_col):
                raise ValueError(
                    f"partition column {partition_col!r} != existing "
                    f"{prev_pcol!r} — one partition dimension per table"
                )
        segs, tags = _write_partition_segments(
            fs, path, df, partition_col, version, nonce, written
        )
        depth = prev_raw.get("delta_depth", 0)
        if versions and depth + 1 < _FULL_EVERY:
            manifest: dict = {
                "version": version,
                "delta_base": versions[-1],
                "delta_depth": depth + 1,
                "add_segments": segs,
                "add_segment_partitions": tags,
                "partition_col": partition_col,
            }
        else:
            full_prev = (
                _resolve_manifest(fs, path, versions[-1]) if versions else {}
            )
            manifest = {
                "version": version,
                "segments": full_prev.get("segments", []) + segs,
                "segment_partitions": tags,
                "partition_col": partition_col,
            }
            _carry_live_metadata(
                manifest, full_prev, full_prev.get("segments", [])
            )
            if full_prev.get("deletes"):
                manifest["deletes"] = full_prev["deletes"]
                manifest["delete_keys"] = full_prev["delete_keys"]
        manifest["schema"] = _merged_schema(
            prev_raw, _schema_map(df.schema.fields), path
        )
        manifest["committed_at"] = int(time.time() * 1_000_000)
        if prev_raw.get("recent_batches"):
            manifest["recent_batches"] = prev_raw["recent_batches"]
        if fs.write_text_exclusive(
            _manifest_path(path, version), json.dumps(manifest)
        ):
            return version
        time.sleep(0.01 * (attempt + 1))
    raise RuntimeError(
        f"partitioned append lost {_COMMIT_RETRIES} optimistic races "
        f"under {path} — pathological writer contention"
    )


def overwrite_snapshot_partitions(
    df: DataFrame, path: str, partition_col: str
) -> int:
    """DYNAMIC PARTITION OVERWRITE (Delta ``replaceWhere`` / Iceberg
    dynamic overwrite, reduced to this format): commit a new version
    where every partition PRESENT IN ``df`` is replaced by ``df``'s
    rows and every other partition is untouched — a METADATA-level
    swap (drop the replaced partitions' segments from the manifest,
    add the new ones); no byte of an untouched partition is rewritten
    or even read. This is the daily-backfill move: correcting one day
    of a year-partitioned 100 TB table costs one day's write, not a
    table scan.

    Requires every live segment to carry a partition tag (i.e. a table
    built with :func:`write_snapshot_partitioned`) — compaction
    collapses the table into one untagged segment and therefore trades
    this ability away until the table is re-partitioned; refused
    loudly. The commit retries like an append on a lost CAS race
    (the drop set is recomputed against the new latest, so concurrent
    appends of OTHER partitions interleave safely; two overwrites of
    the SAME partition serialize last-writer-wins). History stays
    time-travelable; the replaced segments become vacuum-reclaimable
    once their manifests age out. The change data feed refuses ranges
    crossing this commit (rows were REPLACED, not added — insert-only
    semantics would lie). Returns the committed version."""
    import time

    spark = df.sparkSession
    fs = get_fs(path, spark)
    nonce = uuid.uuid4().hex[:8]
    written: dict[str, str] = {}
    for attempt in range(_COMMIT_RETRIES):
        versions = _snapshot_versions(fs, path)
        if not versions:
            raise FileNotFoundError(f"no committed snapshots under {path}")
        prev_raw = _read_manifest(fs, path, versions[-1])
        prev = _resolve_manifest(fs, path, versions[-1])
        tags = prev.get("segment_partitions", {})
        untagged = [s for s in prev["segments"] if s not in tags]
        if untagged:
            raise ValueError(
                f"partition overwrite needs every live segment "
                f"partition-tagged; {len(untagged)} untagged (e.g. "
                f"{untagged[0]!r}) — rebuild with "
                "write_snapshot_partitioned (compaction discards tags)"
            )
        if prev.get("partition_col") != partition_col:
            raise ValueError(
                f"partition column {partition_col!r} != table's "
                f"{prev.get('partition_col')!r}"
            )
        version = versions[-1] + 1
        segs, new_tags = _write_partition_segments(
            fs, path, df, partition_col, version, nonce, written
        )
        affected = set(new_tags.values())
        kept = [s for s in prev["segments"] if tags[s] not in affected]
        manifest = {
            "version": version,
            "segments": kept + segs,
            "segment_partitions": {
                **{s: tags[s] for s in kept}, **new_tags
            },
            "partition_col": partition_col,
        }
        _carry_live_metadata(manifest, prev, kept)
        # suppression outlives the swap: tombstoned keys stay erased in
        # untouched partitions (and suppress re-introductions, the
        # append rule)
        if prev.get("deletes"):
            manifest["deletes"] = prev["deletes"]
            manifest["delete_keys"] = prev["delete_keys"]
        manifest["schema"] = _merged_schema(
            prev_raw, _schema_map(df.schema.fields), path
        )
        manifest["committed_at"] = int(time.time() * 1_000_000)
        if prev_raw.get("recent_batches"):
            manifest["recent_batches"] = prev_raw["recent_batches"]
        if fs.write_text_exclusive(
            _manifest_path(path, version), json.dumps(manifest)
        ):
            return version
        time.sleep(0.01 * (attempt + 1))
    raise RuntimeError(
        f"partition overwrite lost {_COMMIT_RETRIES} optimistic races "
        f"under {path} — pathological writer contention"
    )


def read_snapshot_partitions(
    spark: SparkSession,
    path: str,
    values: list,
    version: int | None = None,
) -> DataFrame:
    """Partition-PRUNED snapshot read: scan only the segments whose
    partition tag is in ``values`` (compared as strings, matching the
    write side) — the manifest answers the pruning question before any
    file listing, so reading one partition of a 10^5-segment table
    plans O(1) data directories. Tombstones still apply. Unknown
    values prune to nothing and raise (catching typos loudly rather
    than returning a silently empty frame)."""
    fs = get_fs(path, spark)
    versions = _snapshot_versions(fs, path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path}")
    if version is None:
        version = versions[-1]
    manifest = _resolve_manifest(fs, path, version)
    tags = manifest.get("segment_partitions", {})
    untagged = [s for s in manifest["segments"] if s not in tags]
    if untagged:
        raise ValueError(
            f"partition-pruned read needs every live segment "
            f"partition-tagged; {len(untagged)} untagged (e.g. "
            f"{untagged[0]!r}) — plain appends/compaction discard tags; "
            "rebuild with write_snapshot_partitioned or read the full "
            "snapshot"
        )
    want = {str(v) for v in values}
    known = set(tags.values())
    missing = want - known
    if missing:
        raise ValueError(
            f"partition values {sorted(missing)} not in the table "
            f"(has {sorted(known)})"
        )
    dirs = [s for s in manifest["segments"] if tags.get(s) in want]
    out = (
        spark.read.option("mergeSchema", "true")
        .parquet(*[_join(path, s) for s in dirs])
    )
    if manifest.get("deletes"):
        tombs = spark.read.parquet(
            *[_join(path, d) for d in manifest["deletes"]]
        ).distinct()
        out = out.join(
            F.broadcast(tombs), manifest["delete_keys"], "left_anti"
        )
    return out


def read_snapshot_between(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Stat-PRUNED snapshot read: ``col BETWEEN lo AND hi`` (inclusive)
    where whole segments are skipped from the MANIFEST's per-segment
    [min, max] stats before any file listing — the Iceberg zone-map
    move on this format. A streaming table's micro-batches each cover a
    narrow time window, so a time-windowed read of a 10^5-segment
    table plans only the overlapping handful. Segments without
    recorded stats for ``col`` (committed without ``stats_cols``, or
    rewritten by a compaction) are conservatively scanned, and the
    exact predicate re-applies on top — stats change I/O, never
    answers. Pass timestamp bounds as ``datetime`` objects (canonical
    fixed-width comparison; a string bound must already be full-width
    canonical)."""
    fs = get_fs(path, spark)
    versions = _snapshot_versions(fs, path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path}")
    if version is None:
        version = versions[-1]
    manifest = _resolve_manifest(fs, path, version)
    stats = manifest.get("segment_stats", {})
    lo_c, hi_c = _canon_stat(lo), _canon_stat(hi)
    dirs = [
        s for s in manifest["segments"]
        if not (
            col in stats.get(s, {})
            and (stats[s][col][1] < lo_c or stats[s][col][0] > hi_c)
        )
    ]
    if not dirs:
        # every segment skipped: an empty frame with the FULL (merged,
        # schema-evolved) shape — building it from one segment would
        # drop columns later appends added, making the empty case a
        # data-dependent schema change (round-12 review)
        out = (
            spark.read.option("mergeSchema", "true")
            .parquet(*[_join(path, d) for d in manifest["segments"]])
            .limit(0)
        )
    else:
        out = (
            spark.read.option("mergeSchema", "true")
            .parquet(*[_join(path, d) for d in dirs])
        )
    if manifest.get("deletes"):
        tombs = spark.read.parquet(
            *[_join(path, d) for d in manifest["deletes"]]
        ).distinct()
        out = out.join(
            F.broadcast(tombs), manifest["delete_keys"], "left_anti"
        )
    return out.filter((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))


def read_snapshot_lookup(
    spark: SparkSession,
    path: str,
    col: str,
    values: list,
    version: int | None = None,
) -> DataFrame:
    """Bloom-PRUNED point lookup: ``col IN values`` where whole
    segments are skipped from the MANIFEST's per-segment bloom filters
    before any file listing — the complement of
    :func:`read_snapshot_between`'s zone maps for the predicate shape
    stats cannot help with: a KEY column whose values interleave across
    segments, so every segment's [min, max] covers every probe. A
    streaming-upsert table's "fetch these 5 entity keys" reads the one
    or two segments that ever saw them (plus the ~0.2% false-positive
    tail) instead of the whole chain; a probe for an ABSENT key touches
    zero segments — at 10^5 segments that is the difference between a
    metadata answer and a table scan. Segments committed without
    ``bloom_cols`` (or rewritten by a plain compaction) are
    conservatively scanned, and the exact ``IN`` predicate re-applies
    on top — blooms change I/O, never answers. Probe values must be
    ints or strings (their ``str()`` form is what the commit-side hash
    indexed; other types would hash differently on the two sides) and
    non-NULL (NULLs are not indexed)."""
    if not values:
        raise ValueError("empty probe set — nothing to look up")
    for v in values:
        if v is None or not isinstance(v, (int, str)):
            raise ValueError(
                f"probe value {v!r}: bloom lookups support non-NULL "
                "int/string keys (the indexed str() form must match "
                "Spark's cast-to-string)"
            )
    fs = get_fs(path, spark)
    versions = _snapshot_versions(fs, path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path}")
    if version is None:
        version = versions[-1]
    manifest = _resolve_manifest(fs, path, version)
    dirs = _bloom_prune(manifest, col, values)
    if not dirs:
        # every segment skipped: an empty frame with the FULL merged
        # schema (same discipline as the all-pruned zone-map read)
        out = (
            spark.read.option("mergeSchema", "true")
            .parquet(*[_join(path, d) for d in manifest["segments"]])
            .limit(0)
        )
    else:
        out = (
            spark.read.option("mergeSchema", "true")
            .parquet(*[_join(path, d) for d in dirs])
        )
    if manifest.get("deletes"):
        tombs = spark.read.parquet(
            *[_join(path, d) for d in manifest["deletes"]]
        ).distinct()
        out = out.join(
            F.broadcast(tombs), manifest["delete_keys"], "left_anti"
        )
    return out.filter(F.col(col).isin(values))


def snapshot_row_count(
    path: str, version: int | None = None, spark: SparkSession | None = None
) -> int:
    """METADATA-ONLY ``COUNT(*)`` (round 12): every commit made with
    ``stats_cols`` also records its segment's row count (the count
    rides the same single aggregate), so counting a version is a
    manifest resolution — no data scan, O(metadata) at any table size
    (the Iceberg scan-planning count). Raises when any live segment
    lacks a recorded count (committed without stats) or when live
    tombstones make the physical count unequal to the visible one —
    never returns a number that a full read would contradict."""
    fs = get_fs(path, spark)
    versions = _snapshot_versions(fs, path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path}")
    if version is None:
        version = versions[-1]
    manifest = _resolve_manifest(fs, path, version)
    if manifest.get("deletes"):
        raise ValueError(
            "live merge-on-read tombstones suppress rows at read — the "
            "metadata count would overstate; compact first or count a "
            "full read"
        )
    stats = manifest.get("segment_stats", {})
    missing = [s for s in manifest["segments"]
               if "__rows" not in stats.get(s, {})]
    if missing:
        raise ValueError(
            f"{len(missing)} segment(s) without recorded row counts "
            f"(e.g. {missing[0]!r}) — committed without stats_cols"
        )
    return sum(stats[s]["__rows"] for s in manifest["segments"])


def snapshot_version_at(
    path: str, ts, spark: SparkSession | None = None
) -> int:
    """TIMESTAMP-based time travel resolution (round 12b — the Delta
    ``timestampAsOf`` / Iceberg snapshot-at-timestamp move): the newest
    version whose manifest was PUBLISHED at or before ``ts`` (a
    ``datetime``, naive = UTC, or epoch seconds). Every commit records
    ``committed_at`` (publish-side wall clock, epoch micros) at its CAS
    point; pre-round-12b manifests without one are treated as epoch 0
    (they predate the feature, hence any queryable instant). The usual
    wall-clock caveats apply exactly as in Delta/Iceberg: writer clock
    skew can reorder ``committed_at`` across racing writers by
    milliseconds, so the walk is newest-first and the VERSION dimension
    stays the authoritative history. Raises when the table's first
    commit is newer than ``ts``."""
    import datetime

    if isinstance(ts, datetime.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        micros = int(ts.timestamp() * 1_000_000)
    else:
        micros = int(float(ts) * 1_000_000)
    fs = get_fs(path, spark)
    versions = _snapshot_versions(fs, path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path}")
    for v in reversed(versions):
        if _read_manifest(fs, path, v).get("committed_at", 0) <= micros:
            return v
    raise ValueError(
        f"table under {path} has no version committed at or before the "
        "requested timestamp — its first commit is newer"
    )


def read_snapshot(
    spark: SparkSession, path: str, version: int | None = None,
    as_of=None,
) -> DataFrame:
    """The table AS OF ``version`` (default: latest committed), or —
    mutually exclusive — AS OF the wall-clock instant ``as_of``
    (resolved through :func:`snapshot_version_at`). A plain
    multi-directory parquet scan over the version's segment list —
    pushdown/pruning intact, no data movement."""
    fs = get_fs(path, spark)
    versions = _snapshot_versions(fs, path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path}")
    if as_of is not None:
        if version is not None:
            raise ValueError("pass version OR as_of, not both")
        version = snapshot_version_at(path, as_of, spark)
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    manifest = _resolve_manifest(fs, path, version)
    # segments are ENGINE-written (micros timestamps), so the nanos shim
    # in sources/reader.py is unnecessary — a plain multi-dir scan reads
    # them exactly. mergeSchema: appends may legitimately ADD columns
    # over a table's lifetime (schema evolution); without it a
    # multi-segment scan would silently project the first-listed
    # segment's schema and drop the new column from old-segment rows
    # instead of NULL-padding them.
    out = (
        spark.read.option("mergeSchema", "true")
        .parquet(*[_join(path, s) for s in manifest["segments"]])
    )
    if manifest.get("deletes"):
        # merge-on-read: one anti join against the (small) tombstone
        # union — broadcast-sized by construction (deletes are keys,
        # not rows), applied at read so suppression is immediate
        tombs = spark.read.parquet(
            *[_join(path, d) for d in manifest["deletes"]]
        ).distinct()
        out = out.join(
            F.broadcast(tombs), manifest["delete_keys"], "left_anti"
        )
    return out
