"""windowed_live: an open-loop generator process POSTs seeded event
batches on a fixed schedule to the ``http`` webhook source; the stream
applies an event-time ``tumbling_agg`` (1 s windows per key, 200 ms
watermark) and a ``webhook`` sink delivers the results back to a
receiver inside the generator.  Unit = event.

Each event is stamped with its due time.  A result's latency runs from
the due time of the last event in its window to its arrival at the
receiver; the sink emits in append mode, so it includes the 200 ms
watermark delay.  The final per-window counts are checked against the
generator's own tally.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from common import percentile, progress_phase_p50

from inputs import event_posts, window_tally

RATE = 200          # events per second, well below saturation
INTERVAL_S = 0.1    # one POST per interval
N_KEYS = 20
WINDOW_MS = 1000
WATERMARK = "200 milliseconds"
WARM_S = 6.0


def _to_ts(df):
    from pyspark.sql import functions as F

    return df.withColumn("ts", F.timestamp_millis("ts_ms"))


def _windows(df):
    from pyspark.sql import functions as F

    from wire_spark.streaming.windows import tumbling_agg

    agg = tumbling_agg(df, "ts", f"{WINDOW_MS} milliseconds",
                       [F.count("*").alias("cnt"), F.max("ts_ms").alias("last_ms")],
                       keys=["key"], watermark=WATERMARK)
    return agg.select(F.unix_millis("window_start").alias("w_ms"), "key", "cnt", "last_ms")


def _readline(gen, want: str) -> str:
    line = gen.stdout.readline().strip()
    if not line.startswith(want):
        raise RuntimeError(f"load generator said {line!r}, expected {want}")
    return line


def run(run):
    spark = run.start_spark()
    from wire_spark.model import SinkConfig, SourceConfig
    from wire_spark.pipeline import PipelineRegistry
    from wire_spark.sources.http_source import HttpWebhookSource

    spool = os.path.join(run.work, "spool")
    src = HttpWebhookSource(spool)
    src_port = src.start(0)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    gen = subprocess.Popen(
        [sys.executable, os.path.join(here, "loadgen.py"), "window", "--port", str(src_port),
         "--seed", str(run.seed), "--rate", str(RATE), "--interval", str(INTERVAL_S),
         "--keys", str(N_KEYS), "--window-ms", str(WINDOW_MS), "--warm-s", str(WARM_S),
         "--timed-s", str(run.seconds)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=here,
    )
    run.tree.exclude.add(gen.pid)
    reg = PipelineRegistry(spark)
    try:
        recv_port = int(_readline(gen, "RECV").split()[1])
        reg.add_source(SourceConfig(name="events", type="http", key="win", config={
            "_source": src, "spool_dir": spool, "schema": "key STRING, n LONG, ts_ms LONG"}))
        reg.add_sink(SinkConfig(name="results", type="webhook", key="win", config={
            "url": f"http://127.0.0.1:{recv_port}/", "batch_size": "1000",
            "checkpoint": os.path.join(run.work, "ck")}))
        reg.create("win", [_to_ts, _windows])
        t_run = time.time()
        q = reg.run("win")
        gen.stdin.write("GO\n")
        gen.stdin.flush()
        _readline(gen, "T0")
        run.window_start()
        t0_wall = time.time() * 1000.0
        _readline(gen, "T1")
        run.window_end()
        t1_wall = time.time() * 1000.0
        ingested = sum(p["numInputRows"] for p in q.recentProgress)
        out = json.loads(gen.stdout.readline())
        gen.wait(timeout=60)
        progress = list(q.recentProgress)
        failed_stream = q.exception() is not None
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
        reg.close_all()
        src.stop()

    posts = event_posts(run.seed, RATE, INTERVAL_S, len(out["posts"]), N_KEYS)
    want = window_tally(posts, out["t0_ms"], WINDOW_MS)
    got: dict = {}
    for _, w_ms, key, cnt, _ in out["results"]:
        if key != "flush":
            got[(w_ms, key)] = got.get((w_ms, key), 0) + cnt
    correct = got == want and not failed_stream
    if got != want:
        print(f"perfbench: {len(set(got.items()) ^ set(want.items()))} window counts differ "
              "from the generator's tally", file=sys.stderr)

    per_post = len(posts[0][1])
    timed = [r for r in out["results"] if r[2] != "flush" and t0_wall <= r[1] + WINDOW_MS < t1_wall]
    lat = [recv - last for recv, _, _, _, last in timed]
    events = sum(r[3] for r in timed)
    post_failures = sum(p[3] != 200 for p in out["posts"][out["n_warm"]:])
    attempted = (len(out["posts"]) - out["n_warm"]) * per_post

    if run.trace:
        late = [p[1] - p[0] for p in out["posts"]][out["n_warm"]:]
        t_prog = [p for p in progress if t0_wall <= _ms(p["timestamp"]) < t1_wall]
        state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
        run.layers.update({
            "pipeline.start_s": _ms(progress[0]["timestamp"]) / 1000.0 - t_run,
            "sources.latest_offset_ms": progress_phase_p50(t_prog, "latestOffset"),
            "sources.get_batch_ms": progress_phase_p50(t_prog, "getBatch"),
            # every post was sent before T1; rows not yet through a batch
            "sources.backlog_end": len(out["posts"]) * per_post - ingested,
            "sources.post_ms_p50": sorted(p[4] for p in out["posts"])[len(out["posts"]) // 2],
            "streaming.batches": len(t_prog),
            "streaming.add_batch_ms": progress_phase_p50(t_prog, "addBatch"),
            "streaming.query_planning_ms": progress_phase_p50(t_prog, "queryPlanning"),
            "streaming.wal_commit_ms": progress_phase_p50(t_prog, "walCommit"),
            "streaming.commit_offsets_ms": progress_phase_p50(t_prog, "commitOffsets"),
            "streaming.state_rows": state[-1]["numRowsTotal"] if state else 0,
            "streaming.state_memory_bytes": max((s["memoryUsedBytes"] for s in state), default=0),
            "streaming.rows_dropped_by_watermark": sum(s.get("numRowsDroppedByWatermark", 0) for s in state),
            "sinks.rows_out": len(out["results"]),
            "sinks.deliveries": out["deliveries"],
            "generator.late_ms_p99": percentile([x for x in late for _ in range(per_post)], 99),
        })
    return run.result(
        units=events, latencies_ms=lat, attempted=attempted, failed=post_failures,
        correct=correct,
        detail={"results": len(timed), "windows_checked": len(want),
                "late_ms_max": max(p[1] - p[0] for p in out["posts"]),
                "watermark": WATERMARK, "rate": RATE},
    )


def _ms(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0
