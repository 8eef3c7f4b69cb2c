"""Per-layer measurement from outside the program.

Two sources, neither of which adds a Spark job:

* ``Spans`` wraps the layers' public entry points (the names ``store.py``
  calls) with wall-clock span recorders, kept in memory and reduced to
  per-operation self times.
* ``spark_counters`` reads Spark's status store for the jobs of one job
  group after the listener bus has drained, so the counts are final.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict

import feast_ibm_spark.store as store_mod
from feast_ibm_spark.retrieval import SparkRetrievalJob
from feast_ibm_spark.sources.data_source import SparkDataSource
from feast_ibm_spark.store import SparkOfflineStore

# (owner, attribute, span name). Module functions are patched where store.py
# imports them; methods on the classes store.py uses.
_TARGETS = [
    (SparkOfflineStore, "get_historical_features", "store.call"),
    (SparkOfflineStore, "materialize", "store.call"),
    (store_mod, "point_in_time_join", "operators.pit_join_build"),
    (store_mod, "latest_per_key", "operators.latest_per_key_build"),
    (SparkDataSource, "load", "sources.load"),
    (SparkRetrievalJob, "to_spark_df", "retrieval.to_spark_df"),
    (SparkRetrievalJob, "to_arrow", "retrieval.to_arrow"),
]

SPAN_NAMES = sorted({name for _, _, name in _TARGETS})


class Spans:
    """Span recorder. ``install()`` patches the targets, ``uninstall()``
    restores the originals; spans are grouped by the operation index set
    with ``begin_op``."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._saved: list[tuple] = []
        self._op = None

    def begin_op(self, op: int) -> None:
        self._op = op

    def install(self) -> None:
        for owner, attr, name in _TARGETS:
            raw = owner.__dict__[attr]
            self._saved.append((owner, attr, raw))
            fn = raw.__func__ if isinstance(raw, staticmethod) else raw
            wrapped = self._wrap(fn, name)
            setattr(owner, attr, staticmethod(wrapped) if isinstance(raw, staticmethod) else wrapped)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._saved):
            setattr(owner, attr, raw)
        self._saved.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def span(*args, **kwargs):
            rec = {"name": name, "op": self._op, "child_s": 0.0, "arrow_bytes": 0}
            self._stack.append(rec)
            start = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
                if name == "retrieval.to_arrow":
                    rec["arrow_bytes"] = out.nbytes
                return out
            finally:
                rec["dur_s"] = time.perf_counter() - start
                self._stack.pop()
                if self._stack:
                    self._stack[-1]["child_s"] += rec["dur_s"]
                self.spans.append(rec)

        return span

    def per_op(self, op: int) -> dict[str, float]:
        """Self time (duration minus nested spans) per span name, summed over
        the operation's spans, plus the Arrow bytes delivered."""
        out: dict[str, float] = defaultdict(float)
        for rec in self.spans:
            if rec["op"] == op:
                out[rec["name"]] += rec["dur_s"] - rec["child_s"]
                out["arrow_bytes"] += rec["arrow_bytes"]
        return {name: out.get(name, 0.0) for name in [*SPAN_NAMES, "arrow_bytes"]}


# (counter, unit) summed over the attempted stages of one job group
COUNTERS = [
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("failed_tasks", "count"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("jvm_gc_s", "s"),
    ("input_bytes", "bytes"), ("output_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes"),
]


def job_ids(spark, group: str) -> list[int]:
    sc = spark.sparkContext
    # the status listener runs on the listener bus; drain it so counts are final
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def spark_counters(spark, group: str) -> dict[str, float]:
    """Jobs, attempted stages and task metrics of one job group."""
    sc = spark.sparkContext
    jobs = job_ids(spark, group)
    tracker = sc.statusTracker()
    stage_ids = sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds})
    status = sc._jsc.sc().statusStore()
    c = dict.fromkeys((name for name, _ in COUNTERS), 0.0)
    c["jobs"] = len(jobs)
    for sid in stage_ids:
        sd = status.lastStageAttempt(sid)
        if sd.status().toString() not in ("COMPLETE", "FAILED"):
            continue  # skipped: its shuffle output was reused
        c["stages"] += 1
        c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks()
        c["failed_tasks"] += sd.numFailedTasks()
        c["executor_run_s"] += sd.executorRunTime() / 1e3
        c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        c["jvm_gc_s"] += sd.jvmGcTime() / 1e3
        c["input_bytes"] += sd.inputBytes()
        c["output_bytes"] += sd.outputBytes()
        c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        c["shuffle_read_bytes"] += sd.shuffleReadBytes()
        c["spill_bytes"] += sd.diskBytesSpilled()
    return c
