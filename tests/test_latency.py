"""End-to-end latency: the reference declares "< 10ms p99 end-to-end"
(ROADMAP.md:189) with no measurement harness. Here the claim is made
testable on both execution modes:

- micro-batch: a real pipeline measures per-record
  landing->processing latency (file spool -> 0s trigger ->
  foreachBatch timestamps).
- continuous: ``continuous_latency`` below runs ContinuousTrigger
  end-to-end (rate -> 50 ms epochs -> memory sink) with a timed stop
  and measures first-visible latency by polling the sink table. Two
  sandbox constraints shape it: Python ForeachWriter cannot run in
  continuous mode (CANNOT_GET_BATCH_ID — the open/process/close
  wrapper needs a batch id continuous epochs don't provide), and an
  availableNow-style harness never terminates (epoch tasks are
  long-running by design) — hence memory sink + sleep + stop().

Honest numbers (local[32]): micro-batch floor is O(100ms) per trigger
regardless of record cost, so p99 lands in the 0.1-2s class — the
right tool for throughput (perfbench ``etl_replay`` measures its
rows/s). Continuous mode measures p50 ~150-250 ms first-visible here
because the memory-sink poll adds an epoch commit + collect RPC per
observation; the <10ms class needs kafka->kafka per-record delivery,
no broker in this sandbox.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import urllib.request

from wire_spark.sources.http_source import HttpWebhookSource


def test_microbatch_end_to_end_latency_profile(spark, tmp_path):
    """Measure landing->processed latency through webhook spool ->
    file stream -> foreachBatch; assert the micro-batch class (p99
    well under 10s) and emit the profile for the bench record."""
    spool = str(tmp_path / "spool")
    src = HttpWebhookSource(spool)
    port = src.start()
    latencies: list[float] = []

    def record(bdf, _epoch):
        now = time.time()
        latencies.extend(now - r.t_land for r in bdf.collect())

    stream = src.read(spark, "i BIGINT, t_land DOUBLE")
    q = (
        stream.writeStream.foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        for i in range(20):
            body = json.dumps({"i": i, "t_land": time.time()}).encode()
            urllib.request.urlopen(
                urllib.request.Request(
                    f"http://127.0.0.1:{port}/", data=body, method="POST"
                )
            )
            time.sleep(0.05)
        deadline = time.time() + 60
        while len(latencies) < 20 and time.time() < deadline:
            time.sleep(0.2)
    finally:
        q.stop()
        src.stop()

    assert len(latencies) == 20
    ordered = sorted(latencies)
    p50, p99 = ordered[10], ordered[-1]
    print(f"\nmicro-batch landing->processed latency: p50={p50:.3f}s p99={p99:.3f}s")
    assert p99 < 10.0  # micro-batch class; <10ms needs continuous+kafka


def test_simple_transform_per_record_latency_submillisecond(spark, tmp_path):
    """BASELINE.md row 'Simple-transform latency: sub-millisecond'
    (docs/TECHNICAL_ROADMAP.md:186): measure the amortized per-record
    cost of the envelope + JSON-uppercase transform at steady state
    through a real stream (file -> transform -> noop). The trigger
    floor dominates END-TO-END p99 (micro-batch class, test above);
    the TRANSFORM itself must clear sub-ms/record by orders of
    magnitude or the 100k rows/s/node throughput bar is arithmetically
    impossible."""
    import pyspark.sql.functions as F

    from wire_spark.model import with_envelope
    from wire_spark.transforms import uppercase_json_string

    n = 20_000
    staged = str(tmp_path / "in")
    (
        spark.range(n)
        .select(F.to_json(F.struct(F.col("id"), (F.col("id") % 7).alias("k"))).alias("value"))
        .repartition(8)
        .write.mode("overwrite").text(staged)
    )

    def run_once(ck):
        stream = spark.readStream.schema("value STRING").text(staged)
        pipe = with_envelope(stream, value_col="value").withColumn(
            "value", uppercase_json_string("value")
        )
        t0 = time.time()
        q = (
            pipe.writeStream.format("noop")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / ck))
            .start()
        )
        q.awaitTermination(120)
        return time.time() - t0

    run_once("ck_warm")  # pay spinup once
    wall = min(run_once("ck1"), run_once("ck2"))
    per_record_ms = wall / n * 1000.0
    print(f"\nsteady-state transform latency: {per_record_ms:.4f} ms/record "
          f"({n} records in {wall:.2f}s)")
    assert per_record_ms < 1.0  # the sub-millisecond claim, measured


def continuous_latency(spark, warmup_s: float, measure_s: float) -> dict:
    """First-visible record latency under ContinuousTrigger.

    Pipeline: rate source -> continuous trigger (50 ms epochs) ->
    memory sink; the driver polls the sink table and records, per
    record, first-seen time minus source-generation time. With a
    memory sink the number includes the epoch commit plus the
    driver's poll/collect RPC, so this shows the continuous path
    running end-to-end, not the sub-10 ms kafka->kafka figure."""
    work = tempfile.mkdtemp(prefix="wire_cont_lat_")
    name = f"cont_lat_{os.getpid()}"
    q = None
    try:
        q = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "100")
            .option("numPartitions", "1")
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .trigger(continuous="50 milliseconds")
            .option("checkpointLocation", os.path.join(work, "ck"))
            .start()
        )
        time.sleep(warmup_s)  # codegen + epoch pipeline spinup
        hi = spark.sql(f"SELECT max(value) v FROM {name}").collect()[0].v
        hi = -1 if hi is None else hi
        seen: dict[int, float] = {}
        t_end = time.time() + measure_s
        while time.time() < t_end:
            rows = spark.sql(
                f"SELECT value, timestamp FROM {name} WHERE value > {hi}"
            ).collect()
            tnow = time.time()
            for r in rows:
                seen[r.value] = tnow - r.timestamp.timestamp()
                hi = max(hi, r.value)
            time.sleep(0.005)
        lats = sorted(seen.values())
        if not lats:
            return {"error": "no records observed"}
        n = len(lats)
        return {
            "n": n,
            "p50_ms": round(lats[n // 2] * 1000.0, 1),
            "min_ms": round(lats[0] * 1000.0, 1),
        }
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(work, ignore_errors=True)


def test_continuous_trigger_runs_and_measures(spark):
    """ContinuousTrigger executes end-to-end in this sandbox (epoch
    pipeline + memory-sink commits + clean stop) and yields a
    non-empty latency profile in the sub-second class — the exercised
    form of the reference's declared <10ms continuous-mode story."""
    prof = continuous_latency(spark, warmup_s=3.0, measure_s=5.0)
    assert "error" not in prof, prof
    assert prof["n"] > 100          # ~100 rows/s for 5s measured
    assert prof["p50_ms"] < 2000    # continuous class, not batch class
    assert prof["min_ms"] > 0


def test_bench_profile_reads_status_stores(spark, sf_dir):
    """``bench.profile`` against ``perfbench/common.py``'s readers: each
    record carries the job, action, Python and construction layers, and
    no query leaves storage behind."""
    import bench
    from wire_spark.queries._util import release_tracked_caches

    spark.catalog.clearCache()
    release_tracked_caches()  # earlier tests in the session may hold some
    rec = {}
    for name in ("q1_pricing_summary", "dedup_embedding_cosine", "dedup_components_star"):
        rec[name] = bench.profile(spark, name, sf_dir)
        assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) == 0, name

    q1 = rec["q1_pricing_summary"]
    assert q1["jobs"] >= 1 and q1["action_s"] > 0
    assert q1["operators"]["HashAggregate"] >= 1
    # the applyInPandas GEMM node
    assert rec["dedup_embedding_cosine"]["python_run_s"] > 0
    # its connected-components rounds run while the DataFrame is built,
    # on top of the one schema-reading job per table that q1 also runs
    star = rec["dedup_components_star"]
    assert star["construct_jobs"] > q1["construct_jobs"] >= 1
