"""Offline-store benchmark: the reference's point-in-time join and its
latest-per-key write path, run through the public ``SparkOfflineStore``
facade.

    python3 perfbench/run.py --workload training_set --seed 1 --seconds 12 --trace 0

Workloads (see README.md for why each exists and what it should move):

* ``training_set``        get_historical_features(pandas spine, 2 views).to_arrow()
* ``materialize_refresh`` materialize(7-day window) overwriting a parquet dir

Load shape: closed loop, one client, one process, ``local[<cpus>]``. A fixed
number of untimed warm-up operations run inside ``setup_s``; the timed
operations then run back to back until their summed wall time reaches
``--seconds`` (and at least ``MIN_OPS`` of them have run). Every timed
operation's output is checked against DuckDB outside the timed interval.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). Everything else goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

import check
import data

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA_DIR = HERE / ".data"
WORK_DIR = HERE / ".work"

# Untimed warm-up operations per workload: the cold first call (3-7x the
# steady state) and the slowest warm ones after it. A fixed count, not a fixed
# time, so slower operations make setup_s longer.
WARMUP_OPS = {"training_set": 2, "materialize_refresh": 4}
# a run measures at least MIN_OPS operations, so its median never rests on
# the mean of two samples, and at most MAX_OPS, the inputs drawn per run
MIN_OPS = 3
MAX_OPS = 16
JVM_FILE_OPTS = "-XX:-UsePerfData"
# (feature, ttl seconds): one view without TTL, one with
VIEWS = [("value", 0), ("event_type", 3 * 86_400)]
LATEST_FEATURES = ["value", "event_type"]


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Bench:
    """One workload on one Spark session: setup, timed loop, checks."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.events = data.ensure_events(DATA_DIR)
        self.inputs = [self._draw(i) for i in range(MAX_OPS)]
        self.warmup_inputs = [self._draw(MAX_OPS + i) for i in range(WARMUP_OPS[workload])]
        self.dest = WORK_DIR / "materialize" / "dest"
        self.spark = None

    def _draw(self, i: int):
        if self.workload == "training_set":
            return data.spine(self.seed, i)
        return data.window(self.seed, i)

    # -- session ------------------------------------------------------------
    def start(self) -> float:
        """Start the session; returns the get_spark wall time."""
        from feast_ibm_spark import SparkDataSource, get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.driver.extraJavaOptions": (
                    f"{JVM_FILE_OPTS} -Djava.io.tmpdir={os.environ['TMPDIR']}"
                ),
                "spark.sql.warehouse.dir": str(WORK_DIR / "warehouse"),
            },
        )
        get_spark_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.source = SparkDataSource(path=str(self.events), timestamp_field="ts")
        return get_spark_s

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on EOF
        gateway.proc.wait(timeout=60)
        self.spark = None

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing for the JVM")

    def reset(self) -> None:
        """Start the next operation from the same state: no cached tables
        and a compacted JVM heap, so one operation's garbage does not decide
        when the next one collects or how far the heap grows."""
        self.spark.catalog.clearCache()
        self.spark._jvm.java.lang.System.gc()

    # -- one operation ------------------------------------------------------
    def op(self, inp):
        """Run one operation; returns (result rows, output to digest)."""
        from feast_ibm_spark import FeatureViewSpec, SparkOfflineStore

        spark = self.spark
        if self.workload == "training_set":
            views = [
                FeatureViewSpec(
                    f"{feat}_view", self.source.load(spark), ["user_id"], [feat], "ts",
                    ttl_seconds=ttl,
                )
                for feat, ttl in VIEWS
            ]
            table = SparkOfflineStore.get_historical_features(spark, inp, views).to_arrow()
            return table.num_rows, table
        lo, hi = inp
        n = SparkOfflineStore.materialize(
            spark, self.source, ["user_id"], LATEST_FEATURES, "ts", None, lo, hi, str(self.dest)
        )
        return n, None

    def digest(self, oracle, out):
        if self.workload == "training_set":
            return oracle.digest(out, check.TRAINING_COLS)
        return oracle.digest_parquet(self.dest, check.LATEST_COLS)

    def expected(self, oracle, inp):
        if self.workload == "training_set":
            return oracle.training(inp, VIEWS)
        return oracle.latest(*inp)

    # -- the run ------------------------------------------------------------
    def run(self, seconds: float) -> dict:
        t_setup = time.perf_counter()
        get_spark_s = self.start()
        spark, sc = self.spark, self.spark.sparkContext
        slots = sc.defaultParallelism
        for inp in self.warmup_inputs:
            self.reset()
            self.op(inp)
        setup_s = time.perf_counter() - t_setup
        log(f"{self.workload}: setup {setup_s:.2f}s (get_spark {get_spark_s:.2f}s)")
        import layers  # imports the program, so only after set-up is timed

        oracle = check.Oracle(self.events, threads=slots)
        spans = layers.Spans()
        ops = []  # one dict per timed operation
        timed = 0.0
        i = 0
        while (timed < seconds or i < MIN_OPS) and i < len(self.inputs):
            traced = self.trace and i % 2 == 0
            group = f"perfbench-{i}"
            self.reset()
            sc.setJobGroup(group, f"perfbench {self.workload} op {i}")
            if traced:
                spans.begin_op(i)
                spans.install()
            rec = {"i": i, "traced": traced, "rows": 0}
            start = time.perf_counter()
            try:
                rec["rows"], out = self.op(self.inputs[i])
            except Exception:  # counted as failed; the loop goes on
                traceback.print_exc()
                out = None
                rec["error"] = True
            rec["wall_s"] = time.perf_counter() - start
            if traced:
                spans.uninstall()
            timed += rec["wall_s"]
            sc.setJobGroup("perfbench-idle", "outside timed operations")
            if self.trace:
                if traced:
                    rec["spark"] = layers.spark_counters(spark, group)
                    rec["spans"] = spans.per_op(i)
                else:
                    rec["jobs"] = len(layers.job_ids(spark, group))
            if "error" not in rec:
                rec["digest"] = self.digest(oracle, out)
            ops.append(rec)
            i += 1
            del out

        peak_rss_mb = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024 + self.jvm_peak_rss_mb()
        )
        failed = 0
        for rec in ops:
            want = self.expected(oracle, self.inputs[rec["i"]])
            # the reported row count (materialize returns its key count) must match too
            rec["ok"] = rec.get("digest") == want and rec["rows"] == want[0]
            failed += not rec["ok"]
            if not rec["ok"]:
                log(f"op {rec['i']} FAILED the DuckDB check")
        oracle.close()

        walls = [r["wall_s"] for r in ops]
        rows = sum(r["rows"] for r in ops)
        log(
            f"{self.workload}: {len(ops)} timed ops, {rows} result rows, "
            f"walls {[round(w, 3) for w in walls]}"
        )
        result = {"correct": failed == 0, "attempted": len(ops), "failed": failed}
        if not self.trace:
            result["metrics"] = {
                "latency_p50_s": {"value": statistics.median(walls), "unit": "s"},
                "throughput_rows_per_s": {"value": rows / sum(walls), "unit": "rows/s"},
                "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
                "setup_s": {"value": setup_s, "unit": "s"},
            }
        else:
            result["metrics"] = m = self.layer_metrics(ops, get_spark_s, slots)
            # the span recorders must not change what Spark runs
            if m["spark.jobs"]["value"] != m["trace.untraced_jobs"]["value"]:
                log("traced and untraced operations ran different numbers of Spark jobs")
                result["correct"] = False
            trace_file = WORK_DIR / f"trace-{self.workload}-seed{self.seed}.json"
            trace_file.write_text(json.dumps({"ops": ops, "spans": spans.spans}, default=str))
        return result

    @staticmethod
    def layer_metrics(ops, get_spark_s: float, slots: int) -> dict:
        """Per-layer metrics: medians over the traced operations."""
        import layers

        traced = [r for r in ops if r["traced"]]
        untraced = [r for r in ops if not r["traced"]]

        med = statistics.median
        out = {"session.get_spark_s": (get_spark_s, "s")}
        for span in layers.SPAN_NAMES:
            out[f"{span}_s"] = (med([r["spans"][span] for r in traced]), "s")
        out["retrieval.arrow_bytes"] = (med([r["spans"]["arrow_bytes"] for r in traced]), "bytes")
        for name, unit in layers.COUNTERS:
            out[f"spark.{name}"] = (med([r["spark"][name] for r in traced]), unit)
        out["spark.slot_busy_ratio"] = (
            med([r["spark"]["executor_run_s"] / (r["wall_s"] * slots) for r in traced]), "ratio"
        )
        out["spark.shuffle_bytes_per_result_row"] = (
            med([r["spark"]["shuffle_write_bytes"] / max(r["rows"], 1) for r in traced]),
            "bytes/row",
        )
        out["trace.overhead_ratio"] = (
            med([r["wall_s"] for r in traced]) / med([r["wall_s"] for r in untraced]), "ratio"
        )
        out["trace.untraced_jobs"] = (med([r["jobs"] for r in untraced]), "count")
        return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


WORKLOADS = ("training_set", "materialize_refresh")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "feast_ibm_spark" / "__init__.py").is_file():
        log(f"the feast_ibm_spark package is missing from {ROOT}")
        return 2
    sys.path.insert(0, str(ROOT))
    # Everything the run writes stays under WORK_DIR: Spark's shuffle and
    # spill files, the JVM's and Python's temporary files. The JVMs keep no
    # perf-data file in /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_FILE_OPTS
    tmp, local = WORK_DIR / "tmp", WORK_DIR / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)

    bench = Bench(args.workload, args.seed, bool(args.trace))
    try:
        result = bench.run(args.seconds)
    finally:
        bench.stop()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
