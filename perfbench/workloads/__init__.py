"""Workload dispatch and the per-run harness every workload shares."""

from __future__ import annotations

import importlib
import json
import os
import signal
import time

from common import E2E_UNITS, ProcTree, Tracer, metric_block, percentile

from workloads.catalog_mix import QUERIES

#: Per-layer metrics printed by every traced run (0 where a workload
#: does not exercise the layer).  Units follow the name's suffix.
PER_LAYER = [
    "engine.session_start_s",
    "pipeline.start_s",
    "sources.latest_offset_ms",
    "sources.get_batch_ms",
    "sources.backlog_end",
    "sources.post_ms_p50",
    "transforms.python_start_init_s",
    "transforms.python_run_s",
    "transforms.arrow_bytes_to_python",
    "transforms.arrow_bytes_from_python",
    "streaming.batches",
    "streaming.add_batch_ms",
    "streaming.query_planning_ms",
    "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms",
    "streaming.state_rows",
    "streaming.state_memory_bytes",
    "streaming.rows_dropped_by_watermark",
    "sinks.rows_out",
    "sinks.deliveries",
    "kv.execute_ms_p50",
    "kv.query_ms_p50",
    "kv.query_ms_p90",
    "kv.jobs_per_query",
    "kv.log_rows_end",
    "api.self_ms_p50",
    "api.status_ms_p50",
    "api.status_jobs",
    *[f"catalog.{q}.{m}" for q in QUERIES
      for m in ("construct_s", "action_s", "jobs", "stages", "tasks", "executor_cpu_s")],
    "catalog.executor_gc_s",
    "catalog.shuffle_read_bytes",
    "catalog.shuffle_write_bytes",
    "catalog.spill_bytes",
    "catalog.python_start_init_s",
    "catalog.python_run_s",
    "catalog.rdds_held_after_release",
    "generator.late_ms_p99",
    "bench.latency_samples",
    "trace.overhead_pct",
]


def layer_unit(name: str) -> str:
    for suffix, unit in (("_ms_p50", "ms"), ("_ms_p90", "ms"), ("_ms_p99", "ms"),
                         ("_ms", "ms"), ("_s", "s"), ("_bytes", "B"), ("_pct", "%")):
        if name.endswith(suffix):
            return unit
    if name.endswith("jobs_per_query"):
        return "jobs"
    return "count"


class Run:
    """One run: Spark session, the timed window, and the result line."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str, t_process: float):
        self.seed, self.seconds, self.work = seed, seconds, work
        self.t_process = t_process
        self.tracer = Tracer(enabled=trace)
        self.tree = ProcTree()
        self.layers: dict[str, float] = {}
        self.spark = None

    @property
    def trace(self) -> bool:
        return self.tracer.enabled

    def start_spark(self):
        from wire_spark.engine import get_spark

        t = time.monotonic()
        self.spark = get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["engine.session_start_s"] = time.monotonic() - t
        return self.spark

    def stop_spark(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        others = [p for p in self.tree.pids() if p != self.tree.root]
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - never leave it running
                proc.kill()
                proc.wait()
        wait_gone(others)

    def window_start(self) -> None:
        self.cpu0 = self.tree.cpu_s()
        self.t0 = time.monotonic()

    def window_end(self) -> None:
        self.t1 = time.monotonic()
        self.cpu1 = self.tree.cpu_s()
        self.rss_mb = self.tree.peak_rss_mb()
        self.trace_busy_s = self.tracer.busy_s

    def result(self, units: int, latencies_ms, attempted: int, failed: int,
               correct: bool, detail: dict | None = None) -> dict:
        wall = self.t1 - self.t0
        e2e = {
            "throughput_per_s": units / wall,
            "cpu_ms_per_unit": (self.cpu1 - self.cpu0) * 1000.0 / units,
            "peak_rss_mb": self.rss_mb,
            "setup_s": self.t0 - self.t_process,
            "success_ratio": (attempted - failed) / attempted,
        }
        lat = list(latencies_ms)
        e2e["latency_p50_ms"] = percentile(lat, 50)  # TooFewSamples ends the run
        e2e["latency_p90_ms"] = percentile(lat, 90)
        self.layers["bench.latency_samples"] = len(lat)
        self.layers["trace.overhead_pct"] = 100.0 * self.trace_busy_s / wall
        info = {"window_s": wall, "units": units, "latency_samples": len(lat), **(detail or {})}
        if len(lat) <= 5000:
            info["samples_ms"] = [round(x, 3) for x in lat]
        print("# detail " + json.dumps(info, sort_keys=True))
        if self.trace:
            metrics = {k: {"value": float(self.layers.get(k, 0.0)), "unit": layer_unit(k)}
                       for k in PER_LAYER}
            self.tracer.dump(os.path.join(os.path.dirname(self.work), "traces",
                                          os.path.basename(self.work) + ".jsonl"))
        else:
            metrics = metric_block(e2e, E2E_UNITS)
        return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
                "metrics": metrics}


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, t_process: float) -> dict:
    mod = importlib.import_module(f"workloads.{workload}")
    r = Run(seed, seconds, trace, work, t_process)
    try:
        return mod.run(r)
    finally:
        r.stop_spark()


def wait_gone(pids, timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has exited (or is a zombie
    left to its new parent), killing any still alive at the timeout."""
    deadline = time.monotonic() + timeout
    left = list(pids)
    while left:
        left = [p for p in left if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"
