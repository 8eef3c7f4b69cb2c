"""Run a streaming query over a bounded input to completion.

``trigger(availableNow=True)`` normally terminates once every available
file is processed — EXCEPT when the plan contains a stateful operator
with ``ProcessingTimeTimeout`` (our idle-flush sessionize / TTL'd
first-seen): Spark's ``shouldRunAnotherBatch`` returns true whenever
processing-time timers are configured, because a timer could always fire
later, so the run schedules empty micro-batches forever and the query
never self-terminates (measured: ~12 empty batches/second, unbounded).

:func:`drain_available_now` is the bounded-input contract those operators
need: start the query, let every data batch commit, keep running empty
batches while timers are still flushing state, and stop deterministically
once a COMMITTED batch reports both zero input rows and zero rows left in
the state store — at that point every pending timer has fired, every open
session/flag has been emitted or evicted, and the sink holds the final
answer. Progress is only ever read from committed batches, so stopping
here cannot lose emitted rows.
"""

from __future__ import annotations

import contextlib
import shutil
import tempfile
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@contextlib.contextmanager
def rocksdb_state_store(spark: SparkSession, bounded_memory_mb: int | None = None):
    """Run streaming queries started inside this context with the RocksDB
    state-store provider instead of the default in-memory HDFS-backed one.

    Why this is the 100 TB default: the HDFSBackedStateStoreProvider keeps
    every key's state AND the last N committed versions as JVM objects in
    executor heap — state size is bounded by memory, and large-state jobs
    (dedup over billions of keys, wide interval joins) OOM or GC-stall.
    RocksDB keeps state off-heap on local disk with incremental
    checkpointing to the checkpoint location, so per-executor state is
    bounded by DISK, and ``bounded_memory_mb`` additionally caps the
    block-cache + memtable budget across all RocksDB instances on an
    executor (`spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage`).

    The provider is read per-QUERY at start, so a context manager around
    ``.start()``/drain is the right granularity; the previous provider is
    restored on exit. Results are provider-independent (same state API) —
    pinned by tests/test_streaming.py::test_sessionize_rocksdb_provider,
    which drains the same stream under both providers and compares exactly.
    """
    conf = spark.conf
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = conf.get(key, None)
    conf.set(key, ROCKSDB_PROVIDER)
    extras: dict[str, str | None] = {}
    if bounded_memory_mb is not None:
        for k, v in {
            "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
            "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB":
                str(bounded_memory_mb),
        }.items():
            extras[k] = conf.get(k, None)
            conf.set(k, v)
    try:
        yield
    finally:
        conf.set(key, prev) if prev is not None else conf.unset(key)
        for k, old in extras.items():
            conf.set(k, old) if old is not None else conf.unset(k)


# Input bytes each JVM-stateful state partition should be responsible
# for, and the ceiling in units of task slots (round 13; derivation in
# _stream_state_partitions). Both are heuristic TARGETS, not local
# constants: the partition count they produce scales with the input and
# with the cluster.
STATE_TARGET_BYTES_PER_PARTITION = 16 << 20
STATE_MAX_SLOT_MULTIPLE = 8

# Logical-plan markers of PYTHON-stateful operators: their per-row work
# runs in Python workers, so their parallelism need is compute-driven
# (task slots), not commit-overhead-driven — the bytes heuristic below
# must not throttle them (measured: sessionize at 4 partitions is ~1.5x
# SLOWER than at 32 on the same input where the JVM interval join is
# 2.6x FASTER).
_PY_STATEFUL_MARKERS = (
    "FlatMapGroupsInPandasWithState",
    "TransformWithStateInPandas",
    "FlatMapGroupsInPandas",
)


def _stream_source_bytes(spark: SparkSession, plan) -> int | None:
    """Total bytes of the file-stream sources under an analyzed plan
    (None when no source is file-backed — ``rate``, Python data
    sources — or the files hold no bytes yet).

    Each ``StreamingRelation`` leaf is keyed on its ``path`` and
    ``pathGlobFilter`` options, so a source read twice (a self-join) is
    counted once. A glob is sized with ``globStatus(path/glob)`` — a
    single-file table streams as its parent directory plus a glob, and
    the directory's siblings are not its input — else with
    ``getContentSummary(path)``. Driver-side Hadoop FS metadata only, no
    job; a path the FS cannot size gives None."""
    sources = set()
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "StreamingRelation":
            continue
        opts = leaf.dataSource().options()
        path, glob = opts.get("path"), opts.get("pathGlobFilter")
        if path.isDefined():
            sources.add((path.get(), glob.get() if glob.isDefined() else None))
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    total = 0
    try:
        for path, glob in sources:
            p = Path(path)
            fs = p.getFileSystem(hconf)
            if glob is None:
                total += fs.getContentSummary(p).getLength()
            else:
                hits = fs.globStatus(Path(p, glob))
                total += sum(st.getLen() for st in hits or [])
    except Py4JJavaError:  # e.g. a source path removed since the build
        return None
    return total or None


def _stream_state_partitions(spark: SparkSession, sdf: DataFrame) -> int:
    """Shuffle/state partition count for a NEW streaming query.

    Streaming plans never go through AQE, so every stateful operator
    runs — and checkpoints a state-store instance — at the session's
    raw ``spark.sql.shuffle.partitions`` for the life of the query
    (the count is frozen into the checkpoint at the first batch), and
    every micro-batch pays one state-store commit PER PARTITION whether
    or not rows arrived. The count is derived from ``sdf``'s analyzed
    plan alone — no session state, no hint, no override:

    1. Plans with PYTHON-stateful operators — one partition per task
       slot (``defaultParallelism``): their cost is per-row Python
       compute, so parallelism, not commit overhead, dominates
       (measured round 13: sessionize 3.4 s at slots vs 5.0 s at 4).
    2. Plans over file-stream sources (the plan's ``StreamingRelation``
       leaves, sized by :func:`_stream_source_bytes`): one partition per
       ``STATE_TARGET_BYTES_PER_PARTITION`` (16 MiB) of bounded input,
       clamped to [4, ``STATE_MAX_SLOT_MULTIPLE`` x slots]. Production
       justification: state is bounded by what arrives, and a state
       task on under ~16 MiB of input is commit-machinery-bound — the
       r12/r13 measurements (interval join at sf0.1: 15 s at 64
       partitions, 5.9 s at 32, 2.25 s at the heuristic's 4) are the
       per-commit overhead, which a real cluster pays per partition
       per batch forever. The count grows linearly with input (a
       100 GB backfill on 32 slots gets the 8x-slots ceiling, not 4)
       and the ceiling scales with the cluster, so nothing here is a
       local-core constant.
    3. Otherwise (no file source) — one partition per task slot.
    """
    slots = spark.sparkContext.defaultParallelism
    plan = sdf._jdf.queryExecution().analyzed()
    if any(m in plan.toString() for m in _PY_STATEFUL_MARKERS):
        return slots
    n_bytes = _stream_source_bytes(spark, plan)
    if n_bytes is None:
        return slots
    per = -(-n_bytes // STATE_TARGET_BYTES_PER_PARTITION)
    return max(4, min(per, STATE_MAX_SLOT_MULTIPLE * slots))


@contextlib.contextmanager
def _state_partitions_for_start(spark: SparkSession, sdf: DataFrame):
    """Pin ``spark.sql.shuffle.partitions`` around a stream ``start()``:
    the query snapshots the conf into its own cloned session (and its
    checkpoint) at start, so the parent session's value can be restored
    immediately — concurrent batch work never sees the pin."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(_stream_state_partitions(spark, sdf)))
    try:
        yield
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)


def drain_writer(
    writer,
    query_name: str,
    checkpoint_dir: str | None = None,
    timeout_s: float = 600.0,
    poll_s: float = 0.1,
    sdf: DataFrame | None = None,
) -> None:
    """Start a caller-built ``writer`` (its sink is the caller's, e.g. a
    ``foreachBatch``) with availableNow and run it to the drained fixed
    point. Hitting ``timeout_s`` stops the query and raises
    ``TimeoutError`` — a partial sink is never returned while the query
    runs on. With ``sdf``, the frame being written, the start is pinned
    to its plan-derived state partition count.

    A caller-given ``checkpoint_dir`` is the caller's to keep (it reads
    or resumes it afterwards). Without one the drain owns a fresh
    ``tempfile`` directory (so a TMPDIR redirect moves it) and removes
    it once the run has returned or raised: no sink's read-back reads it.
    """
    owned = checkpoint_dir is None
    ckpt = tempfile.mkdtemp(prefix="fis_ckpt_") if owned else checkpoint_dir
    try:
        writer = writer.option("checkpointLocation", ckpt).trigger(
            availableNow=True)
        if sdf is None:
            q = writer.start()
        else:
            with _state_partitions_for_start(sdf.sparkSession, sdf):
                q = writer.start()
        _run_to_fixed_point(q, query_name, timeout_s, poll_s)
    finally:
        if owned:
            shutil.rmtree(ckpt, ignore_errors=True)


def drain_available_now(
    sdf: DataFrame,
    query_name: str,
    output_mode: str = "append",
    checkpoint_dir: str | None = None,
    timeout_s: float = 600.0,
    poll_s: float = 0.1,
) -> DataFrame:
    """Run ``sdf`` with availableNow into a memory sink until drained.

    Terminates when either (a) the query stops on its own (stateless
    plans, or stateful plans without processing-time timers), or (b) a
    committed batch had 0 input rows and the state store holds 0 rows —
    the fixed point for timer-flushed stateful plans on bounded input.
    Returns the sink as a DataFrame. Pass ``checkpoint_dir`` only to
    read or resume the checkpoint afterwards; otherwise the drain owns
    one and removes it.
    """
    writer = (
        sdf.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
    )
    drain_writer(writer, query_name, checkpoint_dir, timeout_s, poll_s, sdf)
    return sdf.sparkSession.table(query_name)


def _run_to_fixed_point(q, query_name: str, timeout_s: float, poll_s: float):
    """Poll a started query until self-termination or the drained fixed
    point (committed batch: 0 input rows AND 0 state-store rows)."""
    t0 = time.time()
    try:
        while q.isActive:
            if time.time() - t0 > timeout_s:
                raise TimeoutError(
                    f"stream {query_name!r} not drained after {timeout_s}s; "
                    f"last progress: {q.lastProgress}"
                )
            p = q.lastProgress
            if p and p.get("numInputRows") == 0:
                ops = p.get("stateOperators") or []
                if ops and all(op.get("numRowsTotal", 0) == 0 for op in ops):
                    q.stop()
                    break
            time.sleep(poll_s)
        q.awaitTermination()
    except Exception:
        if q.isActive:
            q.stop()
        raise


def drain_available_now_to_files(
    sdf: DataFrame,
    output_dir: str,
    checkpoint_dir: str | None = None,
    fmt: str = "parquet",
    timeout_s: float = 600.0,
    poll_s: float = 0.1,
) -> DataFrame:
    """File-sink twin of :func:`drain_available_now` — the DISTRIBUTED
    delivery path. The memory sink materializes every result row on the
    driver (fine for the bounded correctness gate, a bottleneck for real
    output); a file sink writes from the executors with exactly-once
    semantics via the sink's ``_spark_metadata`` commit log, which the
    read-back below consults so uncommitted files from an interrupted
    run are never read. File sinks are append-only, hence no
    ``output_mode`` knob. Same drained-fixed-point termination rule and
    the same checkpoint ownership (the read-back needs only the sink's
    own commit log).

    Returns the committed sink contents as a batch DataFrame.
    """
    writer = (
        sdf.writeStream.format(fmt)
        .option("path", output_dir)
        .outputMode("append")
    )
    drain_writer(writer, output_dir, checkpoint_dir, timeout_s, poll_s, sdf)
    return sdf.sparkSession.read.format(fmt).load(output_dir)
