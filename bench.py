"""Benchmark harness: runs the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

Each query is forced end-to-end with a noop-format write (full
execution, no driver-side collect overhead).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from wire_spark.catalog import load_registry
from wire_spark.engine import get_spark


def run_query(fn, spark, sf_dir: str) -> float:
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


# Reference calibration, pinned on the r14 builder host (idle
# local[32], 16g heap — the host whose BENCH_LOCAL_r* numbers anchor
# the cross-round series).  ``value_host_corrected`` scales each run's
# raw sum by REF/measured on the CPU-saturation probe, so a bench
# taken on a contended host (r13 driver run: all 185 queries uniformly
# ~2x the builder's same-code numbers, while the old scheduling-only
# probes moved just +20% — they sleep-wait and barely touch the CPUs)
# still yields a number comparable with the rest of the series.
# Pinned r14: median-of-session-medians 1442/1715/1789 ms on the
# builder host (three fresh 16g local[32] sessions, fresh-plan reps).
_REF_CALIBRATION = {"cpu_saturate_ms": 1700.0}


def host_correction_factor(measured_cpu_ms: float | None) -> float:
    """Multiplier that maps a raw bench sum to its host-corrected
    value, from the run's CPU-saturation probe (SCALE.md round-14):
    1.0 inside a 1.3x deadband of the pinned reference (ambient probe
    jitter is ±12% — healthy rounds must not be rescaled by noise),
    then a CONTINUOUS blend ``1.3*ref/measured`` beyond it, floored
    at 0.3 (a >4.3x probe blowup indicts the probe, not the queries).

    The blend corrects only the EXCESS over the deadband, so the
    factor is exactly 1.0 at the boundary and degrades smoothly —
    the r14 form jumped 1.0 -> ~0.76 across the edge, letting ±1% of
    probe noise swing the headline by ~24% and making borderline
    rounds bimodal across the series (ADVICE r14).  The idle-host
    case (measured ~= ref) stays a clean 1.0; a genuinely k-fold
    oversubscribed host (measured ~= k*ref, k >> 1.3) corrects by
    ~1.3/k — within 30% of the old ref/measured asymptote, and the
    deadband's intent (never rescale a healthy round) is preserved
    without the discontinuity."""
    ref = _REF_CALIBRATION["cpu_saturate_ms"]
    if not measured_cpu_ms:
        return 1.0
    return max(0.3, min(1.0, 1.3 * ref / measured_cpu_ms))


def host_calibration(spark, cpu_reps: int = 5) -> dict:
    """Measure THIS host's scheduling overhead AND effective parallel
    CPU throughput so cross-round bench sums are comparable even when
    the sandbox is oversubscribed (round-13 lesson: the driver-run
    bench doubled uniformly across all 185 queries with no code delta;
    the scheduling probes below moved only +20% because a mostly-idle
    probe under-measures CPU contention by construction).

    Three probes, each median-of-7:

    - ``collect_1stage_ms`` / ``count_2stage_ms``: a 1-stage 32-task
      ``collect`` vs a 2-stage ``count`` over the same tiny DataFrame;
      the delta ``extra_stage_ms`` is pure per-stage machinery (the
      round-7 fixed-overhead model — kept for continuity, all raw
      inputs stay in the artifact).
    - ``cpu_saturate_ms``: a fixed CPU-bound job — 400M ``range`` rows
      across 32 tasks, a 4-deep ``xxhash64`` chain per row, 64-group
      aggregate — that keeps every executor thread busy ~1.4 s (idle
      builder host) with trivial memory/shuffle footprint.  Under
      k-fold CPU oversubscription its wall time scales ~k, which is
      exactly the signal the scheduling probes miss; the ratio vs
      ``_REF_CALIBRATION`` drives ``value_host_corrected``.  The plan
      is REBUILT each rep with a distinct seed literal: the
      DAGScheduler caches completed shuffle-map-stage output per RDD
      graph, so re-collecting one DataFrame re-runs only the final
      64-row stage and measures nothing (how the first draft of this
      probe read 30 ms for 4B rows)."""
    import statistics

    from pyspark.sql import functions as F

    df = spark.range(0, 32_000, 1, 32)
    df.collect()
    df.count()  # warm codegen for both shapes
    one_stage, two_stage = [], []
    for _ in range(7):
        t0 = time.perf_counter()
        df.collect()
        one_stage.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        df.count()
        two_stage.append(time.perf_counter() - t0)
    one = statistics.median(one_stage)
    two = statistics.median(two_stage)

    # CPU-saturation probe: memory-trivial (64 groups), shuffle-trivial
    # (64 partial-agg rows per task), all-thread CPU-bound.
    def cpu_run(seed: int) -> float:
        h = F.col("id")
        for i in range(4):
            h = F.xxhash64(h, F.lit(seed * 1000 + i))
        cpu_df = (
            spark.range(0, 400_000_000, 1, 32)
            .select((h % 64).alias("b"), (h % 1_000_000).alias("v"))
            .groupBy("b")
            .agg(F.sum("v").alias("s"), F.count("*").alias("c"))
            .select(F.sum(F.col("s") + F.col("c")).alias("t"))
        )
        t0 = time.perf_counter()
        cpu_df.collect()
        return time.perf_counter() - t0

    cpu_run(-1)  # warm codegen for the probe shape
    cpu = [cpu_run(s) for s in range(cpu_reps)]
    return {
        "collect_1stage_ms": round(one * 1000.0, 1),
        "count_2stage_ms": round(two * 1000.0, 1),
        "extra_stage_ms": round(max(0.0, two - one) * 1000.0, 1),
        "cpu_saturate_ms": round(statistics.median(cpu) * 1000.0, 1),
        "cpu_saturate_ref_ms": _REF_CALIBRATION["cpu_saturate_ms"],
    }


def _job_stats(spark, group: str) -> tuple[int, int]:
    """(n_jobs, n_stages) Spark ran for the job group ``group`` —
    the mechanical inputs for host-overhead correction."""
    try:
        tracker = spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        n_stages = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            n_stages += len(info.stageIds) if info else 0
        return len(jobs), n_stages
    except Exception:
        return -1, -1


def stream_throughput(spark, sf_dir: str) -> dict:
    """Streaming sanity bar (BASELINE.md): replay the events table
    through a real streaming pipeline — file source -> envelope +
    recursive-uppercase transform -> noop sink — and report rows/sec.
    The reference's declared target is 100k msg/s/node
    (ROADMAP.md:188)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from wire_spark.engine import load_table
    from wire_spark.model import with_envelope
    from wire_spark.transforms import uppercase_json_string

    work = tempfile.mkdtemp(prefix="wire_bench_stream_")
    try:
        ev = load_table(spark, sf_dir, "events")
        n = ev.count()
        # replay AT LEAST 1M rows: at sf0.1 the raw table is 100k rows
        # and the whole pipeline finishes in ~1.25 s — a sample that
        # small is dominated by the host's ~120 ms/stage fixed
        # overhead, which is how the r14 artifact read 79.7k rows/s on
        # code whose steady-state was well above the bar (VERDICT r14
        # "What's wrong" #3). Replicating the staged log k-fold makes
        # the measurement >= ~5 s of actual streaming work.
        reps = max(1, -(-1_000_000 // max(n, 1)))
        total = n * reps
        # stage as JSON-lines across 16 files: a realistic replayable log
        staged = f"{work}/in"
        (ev.crossJoin(spark.range(reps).select(F.col("id").alias("__rep")))
           .select(F.to_json(F.struct(*ev.columns)).alias("value"))
           .repartition(16)
           .write.mode("overwrite").text(staged))

        def run_once(ck: str) -> float:
            stream = (
                spark.readStream.schema("value STRING")
                .option("maxFilesPerTrigger", "16")
                .text(staged)
            )
            pipe = with_envelope(stream, value_col="value").withColumn(
                "value", uppercase_json_string("value")
            )
            t0 = time.perf_counter()
            q = (
                pipe.writeStream.format("noop")
                .trigger(availableNow=True)
                .option("checkpointLocation", ck)
                .start()
            )
            q.awaitTermination(600)
            return time.perf_counter() - t0

        # first run pays python-worker + streaming-machinery spinup;
        # report steady-state (the reference's 100k msg/s target is a
        # steady-state number)
        run_once(f"{work}/ck_warm")
        wall = min(run_once(f"{work}/ck1"), run_once(f"{work}/ck2"))
        return {"rows": total, "sec": round(wall, 3),
                "rows_per_sec": round(total / wall)}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def stream_latency(spark, sf_dir: str) -> dict:
    """Per-record landing->processed latency through a live
    micro-batch pipeline (file lands in a spool dir -> file source
    with 0s trigger -> foreachBatch timestamps each row).

    The reference DECLARES a <10 ms p99 target for its in-process
    engine (ROADMAP.md:189). Spark micro-batch is a different
    latency class (file discovery + batch planning per trigger), so
    this reports the honest measured profile instead of claiming
    the target; sub-10ms needs continuous mode + a push source
    (Kafka), not available in this sandbox."""
    import json as _json
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="wire_bench_lat_")
    latencies: list[float] = []

    def record(bdf, _epoch):
        now = time.time()
        latencies.extend(now - r.t_land for r in bdf.collect())

    try:
        indir = os.path.join(work, "in")
        os.makedirs(indir)
        stream = spark.readStream.schema("i BIGINT, t_land DOUBLE").json(indir)
        q = (
            stream.writeStream.foreachBatch(record)
            .option("checkpointLocation", os.path.join(work, "ck"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        n, warmup = 40, 10
        for i in range(n):
            tmp = os.path.join(work, f"t{i:04d}.json")
            with open(tmp, "w") as f:
                f.write(_json.dumps({"i": i, "t_land": time.time()}))
            os.rename(tmp, os.path.join(indir, f"f{i:04d}.json"))
            time.sleep(0.1)
        deadline = time.time() + 120
        while len(latencies) < n and time.time() < deadline:
            time.sleep(0.2)
        q.stop()
        steady = sorted(latencies[warmup:])
        if not steady:
            return {"error": "no records observed"}
        return {
            "n": len(steady),
            "p50_ms": round(steady[len(steady) // 2] * 1000.0, 1),
            "p99_ms": round(steady[min(len(steady) - 1, int(len(steady) * 0.99))] * 1000.0, 1),
            "max_ms": round(steady[-1] * 1000.0, 1),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def continuous_latency(spark, warmup_s: float = 5.0, measure_s: float = 10.0) -> dict:
    """First-visible record latency under ContinuousTrigger — the
    epoch-based execution mode that removes the micro-batch floor
    (the reference's declared <10 ms p99 class, ROADMAP.md:189).

    Pipeline: rate source -> continuous trigger (50 ms epochs) ->
    memory sink; the driver polls the sink table and records, per
    record, first-seen time minus source-generation time. Honest
    scope: with a memory sink the measured number includes the epoch
    commit plus the driver's poll/collect RPC (~100-200 ms here), so
    this demonstrates the continuous path RUNNING end-to-end and its
    measured profile in this sandbox — the sub-10 ms figure itself
    needs kafka->kafka per-record writes, with no broker available
    here. Python ForeachWriter cannot run in continuous mode
    (CANNOT_GET_BATCH_ID), so the memory sink + poll is the
    measurable shape."""
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="wire_bench_cont_")
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
                if r.value > hi:
                    hi = r.value
            time.sleep(0.005)
        lats = sorted(seen.values())
        if not lats:
            return {"error": "no records observed"}
        n = len(lats)
        return {
            "n": n,
            "trigger": "continuous=50ms",
            "p50_ms": round(lats[n // 2] * 1000.0, 1),
            "p99_ms": round(lats[min(n - 1, int(n * 0.99))] * 1000.0, 1),
            "min_ms": round(lats[0] * 1000.0, 1),
        }
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(work, ignore_errors=True)


def _median_latency(probe, runs: int = 3) -> dict:
    """Run a latency probe ``runs`` times; headline percentiles are
    the per-metric MEDIAN across successful runs, with every per-run
    profile preserved under ``runs``.

    Median-of-3 is the same comparability fix host_calibration gave
    throughput: one GC pause / page-cache miss can double a single
    run's p99 on this shared JVM, and a cross-round diff of single
    runs then reads pure noise as a regression.  Metrics are combined
    per-key (p50_ms/p99_ms/...) rather than pooling raw latencies so
    a slow run cannot dominate the tail of a pooled distribution."""
    profiles = []
    for i in range(runs):
        try:
            p = probe()
        except Exception as e:  # keep the survivors
            p = {"error": str(e)}
            print(f"BENCH LATENCY RUN {i} ERROR: {e}", file=sys.stderr)
        profiles.append(p)
    ok = [p for p in profiles if "error" not in p]
    if not ok:
        return {"error": "all latency runs failed", "runs": profiles}
    out = {"methodology": f"median of {len(ok)}/{runs} runs", "runs": profiles}
    for key in ok[0]:
        vals = sorted(p[key] for p in ok if isinstance(p.get(key), (int, float)))
        if vals:
            out[key] = vals[len(vals) // 2]
    # non-numeric passthrough (e.g. trigger label)
    for key, v in ok[0].items():
        if not isinstance(v, (int, float)) and key not in out:
            out[key] = v
    return out


#: flagship subset reported per-query in the FINAL compact line (the
#: full 125-query dict overflowed the driver's stdout-tail capture in
#: rounds 1-6 -> ``parsed: null``; the complete dict now goes to
#: BENCH_DETAIL.json instead).
_COMPACT_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q18_large_orders",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine_lsh",
    "knn_bruteforce_cosine",
    "text_quality_score",
    "window_session_10m",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("wire-spark-bench")
    # keep executor-thread shutdown chatter (interrupt stack traces from
    # the continuous query) out of the output the driver tails
    spark.sparkContext.setLogLevel("ERROR")

    registry = load_registry()
    # Sorted-name execution order, independent of registration order:
    # position effects (shared tracked caches, JIT warm-up, page cache)
    # would otherwise move per-query numbers whenever a query is added.
    headline = {
        name: registry[name] for name in sorted(registry) if registry[name].bench
    }

    # warm up the JVM/session so the first measured query doesn't pay
    # session init (the driver compares steady-state throughput)
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # ---- streaming profiles FIRST, so their shutdown (especially the
    # continuous query's executor-interrupt traces) is fully drained
    # long before the final JSON line prints ----
    try:
        stream = stream_throughput(spark, sf_dir)
    except Exception as e:
        stream = {"error": str(e)}
        print(f"BENCH STREAM ERROR: {e}", file=sys.stderr)

    # latency methodology (pinned, VERDICT r8 item 4): percentiles on
    # this host swing ~1.5x run-to-run (r7 p99 559 ms vs r8 864 ms on
    # unchanged code), so a single-run profile is not comparable
    # across rounds.  Each latency probe now runs 3 times; the
    # headline p50/p99 are the MEDIAN across runs and every per-run
    # profile is kept under "runs" so any cross-round diff can check
    # the spread before reading a delta as a regression.
    try:
        latency = _median_latency(lambda: stream_latency(spark, sf_dir))
    except Exception as e:
        latency = {"error": str(e)}
        print(f"BENCH LATENCY ERROR: {e}", file=sys.stderr)

    try:
        cont = _median_latency(lambda: continuous_latency(spark))
    except Exception as e:
        cont = {"error": str(e)}
        print(f"BENCH CONTINUOUS ERROR: {e}", file=sys.stderr)
    time.sleep(2.0)  # let continuous-epoch executor threads finish dying

    calibration = host_calibration(spark)

    from wire_spark.queries._util import release_tracked_caches

    sc = spark.sparkContext
    timings: dict[str, float] = {}
    query_jobs: dict[str, int] = {}
    query_stages: dict[str, int] = {}
    for name, q in headline.items():
        try:
            # best-of-2: steady-state wall time, robust to one-off
            # JIT/GC/page-cache jitter in the shared local JVM
            t1 = run_query(q.fn, spark, sf_dir)
            sc.setJobGroup(f"bench:{name}", name)
            t2 = run_query(q.fn, spark, sf_dir)
            sc.setJobGroup("bench:idle", "idle")
            timings[name] = round(min(t1, t2), 3)
            query_jobs[name], query_stages[name] = _job_stats(
                spark, f"bench:{name}"
            )
        except Exception as e:  # keep benching; report the failure
            timings[name] = -1.0
            print(f"BENCH ERROR {name}: {e}", file=sys.stderr)
        finally:
            # release THIS query's tracked caches before the next query
            # starts (VERDICT r15 "What's wrong" #3): end-of-run-only
            # release let an InMemoryRelation built by one query (e.g.
            # the shared shingle relation) be read for free by every
            # later query sharing the plan, so per-query seconds
            # depended on bench ordering.  Releasing here makes each
            # query's number self-contained (its own best-of-2 still
            # reuses its own caches — the steady state being measured);
            # the first-consumer-pays total becomes every-consumer-pays,
            # which is the honest per-query attribution.  Untimed.
            release_tracked_caches()

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # Host-corrected sum: scale the raw total by REF/measured on the
    # CPU-saturation probe (see host_calibration).  The r13 driver run
    # proved the old model useless under contention: its additive
    # per-extra-stage subtraction corrected 340.1 s by exactly 0.0 s
    # (extra_stage_ms clamped to 0) while the builder's same-code run
    # summed 165.4 s — a uniform ~2x multiplicative host effect, which
    # only a multiplicative model can remove.  A 1.3x deadband absorbs
    # the probe's ambient jitter (±12% across idle-host sessions):
    # inside it the raw value IS the corrected value, so healthy-host
    # rounds stay untouched; beyond it the factor is floored at 0.3
    # (a >3.3x probe blowup means the probe itself is suspect — report
    # most of the raw drift rather than invent a correction).  All raw
    # probe values stay in the artifact so any better model can be
    # applied mechanically later.
    # second probe AFTER the query loop: a point-in-time probe cannot
    # see a contention burst that starts mid-run (observed at r14: a
    # pre-probe of 1888 ms passed the deadband while a ~20-query
    # stretch ran 2-6x slow).  Correct on the WORSE of the two
    # bracketing probes; both land in the artifact.
    calibration_post = host_calibration(spark, cpu_reps=3)
    calibration["cpu_saturate_post_ms"] = calibration_post["cpu_saturate_ms"]
    host_factor = host_correction_factor(max(
        calibration.get("cpu_saturate_ms") or 0.0,
        calibration_post["cpu_saturate_ms"],
    ))
    corrected = round(total * host_factor, 3)
    detail = {
        "metric": "headline query wall time, sum over bench set",
        "value": total,
        "value_host_corrected": corrected,
        "host_factor": round(host_factor, 4),
        "unit": "sec",
        "queries": timings,
        "query_jobs": query_jobs,
        "query_stages": query_stages,
        "host_calibration": calibration,
        "sf": sf,
        "stream": stream,
        "stream_latency": latency,
        "continuous_latency": cont,
    }
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    # round-stamped copy (committed per round so cross-round per-query
    # comparison works from git history alone) + the unstamped working
    # file (gitignored, always the latest run)
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if not rnd:
        import glob as _glob

        stamps = [
            int(m.group(1))
            for p in _glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))
            if (m := re.search(r"BENCH_r0*(\d+)\.json$", p))
        ]
        rnd = str(max(stamps) + 1) if stamps else "0"
    for detail_path in (
        os.path.join(repo_dir, "BENCH_DETAIL.json"),
        os.path.join(repo_dir, f"BENCH_DETAIL_r{rnd}.json"),
    ):
        try:
            with open(detail_path, "w") as f:
                json.dump(detail, f, indent=1, sort_keys=True)
        except OSError as e:
            print(f"BENCH DETAIL WRITE ERROR: {e}", file=sys.stderr)

    # release catalog-query caches before teardown: a caller that
    # invokes bench.main() repeatedly in one session (different
    # sf_dirs -> distinct plans -> distinct cache entries) must not
    # accumulate pinned storage memory (ADVICE r8, tcloseness_audit)
    from wire_spark.queries._util import release_tracked_caches

    release_tracked_caches()

    # Tear the session down BEFORE printing: spark.stop() joins the
    # executor threads, so any lingering shutdown stack traces land
    # ahead of the JSON line instead of after it (the r01-r06 failure
    # mode — the driver tails stdout and parsed the trace, not the line).
    spark.stop()
    time.sleep(1.0)
    compact = dict(detail)
    compact["queries"] = {
        k: timings[k] for k in _COMPACT_QUERIES if k in timings
    }
    for bulky in ("query_jobs", "query_stages"):
        compact.pop(bulky, None)
    compact["n_queries"] = len(timings)
    compact["n_errors"] = sum(1 for t in timings.values() if t < 0)
    compact["detail_file"] = f"BENCH_DETAIL_r{rnd}.json"
    sys.stdout.flush()
    print(json.dumps(compact), flush=True)


if __name__ == "__main__":
    main()
