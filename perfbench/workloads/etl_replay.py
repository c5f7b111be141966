"""etl_replay: replay a staged JSON-lines change log through
``PipelineRegistry`` — text file source -> ``with_envelope`` +
``uppercase_json_string`` -> noop sink, ``availableNow`` over a fresh
checkpoint per pass.  Closed loop; unit = row.

A first pass writes to a memory sink and is checked against a
plain-Python reference (row count and the sum of CRC-32 of each
uppercased value); it is also the warm-up.  Identical noop-sink passes
follow in the timed window.
A row's latency is the duration of the micro-batch that lands it.
"""

from __future__ import annotations

import os
import time
from datetime import datetime

from common import last_execution_id, progress_phase_p50, python_sql_metrics

from inputs import stage_change_log, upper_checksum

N_FILES = 16          # files per pass
ROWS_PER_FILE = 2500  # 40k rows per pass
PASS_S = 2.8          # nominal pass time; sets how many passes --seconds holds


def _envelope(df):
    from wire_spark.model import with_envelope

    return with_envelope(df, value_col="value")


def _upper(df):
    from wire_spark.transforms import uppercase_json_string

    return df.withColumn("value", uppercase_json_string("value"))


def _pass(run, reg, src_dir, key, sink_type):
    from wire_spark.model import SinkConfig, SourceConfig

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    reg.add_source(SourceConfig(name="changelog", type="text", key=key,
                                config={"path": src_dir, "max_files_per_trigger": cpus}))
    reg.add_sink(SinkConfig(name="out", type=sink_type, key=key,
                            config={"checkpoint": os.path.join(run.work, "ck", key)}))
    reg.create(key, [_envelope, _upper])
    t_run = time.time()
    q = reg.run(key, available_now=True)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"pass {key} failed: {q.exception()}")
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    reg.close(key)
    return t_run, progress


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def run(run):
    from pyspark.sql import functions as F

    src_dir = os.path.join(run.work, "in")
    lines = stage_change_log(run.seed, src_dir, N_FILES, ROWS_PER_FILE)
    want = upper_checksum(lines)

    spark = run.start_spark()
    from wire_spark.pipeline import PipelineRegistry

    reg = PipelineRegistry(spark)
    t = time.monotonic()
    _pass(run, reg, src_dir, "etl_check", "memory")
    check_s = round(time.monotonic() - t, 3)
    got = spark.table("etl_check").agg(F.count("*"), F.sum(F.crc32("value"))).first()
    correct = (got[0], got[1]) == want

    n_passes = max(2, round(run.seconds / PASS_S))
    exec0 = last_execution_id(spark) if run.trace else -1
    run.window_start()
    passes = []
    for i in range(n_passes):
        t = time.monotonic()
        t_run, prog = _pass(run, reg, src_dir, f"etl{i}", "noop")
        passes.append((time.monotonic() - t, t_run, prog))
        run.tracer.add("pipeline.pass", t, time.monotonic(), rid=i)
    run.window_end()

    progress = [p for _, _, prog in passes for p in prog]
    rows = sum(p["numInputRows"] for p in progress)
    lat = []
    for p in progress:
        lat.extend([float(p["durationMs"]["triggerExecution"])] * p["numInputRows"])
    expected_rows = n_passes * len(lines)
    correct = correct and rows == expected_rows

    if run.trace:
        py = python_sql_metrics(spark, exec0)
        run.layers.update({
            "pipeline.start_s": sorted(_epoch(prog[0]["timestamp"]) - t_run
                                       for _, t_run, prog in passes)[len(passes) // 2],
            "sources.latest_offset_ms": progress_phase_p50(progress, "latestOffset"),
            "sources.get_batch_ms": progress_phase_p50(progress, "getBatch"),
            "transforms.python_start_init_s": py["python_start_s"] + py["python_init_s"],
            "transforms.python_run_s": py["python_run_s"],
            "transforms.arrow_bytes_to_python": py["arrow_bytes_to_python"],
            "transforms.arrow_bytes_from_python": py["arrow_bytes_from_python"],
            "streaming.batches": len(progress),
            "streaming.add_batch_ms": progress_phase_p50(progress, "addBatch"),
            "streaming.query_planning_ms": progress_phase_p50(progress, "queryPlanning"),
            "streaming.wal_commit_ms": progress_phase_p50(progress, "walCommit"),
            "streaming.commit_offsets_ms": progress_phase_p50(progress, "commitOffsets"),
            "sinks.rows_out": rows,
            "sinks.deliveries": len(progress),
        })
    return run.result(
        units=rows, latencies_ms=lat, attempted=expected_rows, failed=expected_rows - rows,
        correct=correct,
        detail={"check_pass_s": check_s,
                "pass_s": [round(p[0], 3) for p in passes], "batches": len(progress),
                "batch_ms": [p["durationMs"]["triggerExecution"] for p in progress],
                "checksum": list(want), "spark_checksum": [got[0], got[1]]},
    )
