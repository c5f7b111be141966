"""kv_api: one closed-loop client process against ``WireService.serve``.
Unit = HTTP request.

Keys are preloaded through ``/boot`` in setup.  Each round is one SET
or DELETE through ``/db/execute`` then four GETs through ``/db/query``
(one for a key never written), plus one ``/status`` poll every 20
requests.  Only the first GET after a write re-resolves the log with a
Spark job, so about a quarter of requests are slow: p50 sits in the
fast mode and p90 in the slow one.  The request count is fixed, so the
log length at the end is the same in every run.  Every GET is checked
against a dict model of the sequence.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time

from common import percentile, self_time

from inputs import kv_model, kv_plan

N_KEYS = 1000
WARM_ROUNDS = 6
ROUNDS_PER_S = 2.4  # timed rounds per --seconds, so a run fills its window
MIN_ROUNDS = 20     # 105 requests: eleven samples beyond p90


def _instrument(run, service):
    """Spans around the service's KV calls and job groups around the
    calls that may run Spark jobs; request ids count API calls, which
    a single closed-loop client issues in its own order."""
    tr, sc = run.tracer, run.spark.sparkContext
    lock = threading.Lock()
    counter = {"rid": -1}
    groups: dict[str, list[str]] = {"get": [], "status": []}

    def next_rid():
        with lock:
            counter["rid"] += 1
            return counter["rid"]

    def group(kind):
        def before(rid):
            g = f"perfbench-{kind}-{rid}"
            groups[kind].append(g)
            sc.setJobGroup(g, kind)
        return before

    kv = service.kv
    current = threading.local()

    def api(name, fn, kind=None):
        def entry(rid):
            current.rid = rid
            if kind:
                group(kind)(rid)
        return tr.wrap(name, fn, rid_fn=next_rid, before=entry)

    service.execute = api("api.execute", service.execute)
    service.query = api("api.query", service.query)
    service.status = api("api.status", service.status, kind="status")
    kv.execute = tr.wrap("kv.execute", kv.execute, rid_fn=lambda: current.rid)
    kv.query = tr.wrap("kv.query", kv.query, rid_fn=lambda: current.rid,
                       before=lambda rid: group("get")(rid))
    return groups


def run(run):
    spark = run.start_spark()
    from wire_spark.api import WireService

    service = WireService(spark)
    groups = _instrument(run, service) if run.trace else None
    port = service.serve(0)
    rounds = max(MIN_ROUNDS, round(run.seconds * ROUNDS_PER_S))
    t_gen = time.monotonic()
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    gen = subprocess.Popen(
        [sys.executable, os.path.join(here, "loadgen.py"), "kv", "--port", str(port),
         "--seed", str(run.seed), "--keys", str(N_KEYS), "--warm", str(WARM_ROUNDS),
         "--rounds", str(rounds)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=here,
    )
    run.tree.exclude.add(gen.pid)
    try:
        if gen.stdout.readline().strip() != "READY":
            raise RuntimeError("load generator did not get ready")
        ready_s = time.monotonic() - t_gen
        run.window_start()
        gen.stdin.write("GO\n")
        gen.stdin.flush()
        out = json.loads(gen.stdout.readline())
        run.window_end()
        gen.wait(timeout=60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
        service.shutdown()

    preload, reqs = kv_plan(run.seed, N_KEYS, WARM_ROUNDS + rounds)
    want = kv_model(preload, reqs)
    got = [r[5] for r in out if r[1] == "get"]
    correct = got == want and len(out) == len(reqs)
    if got != want:
        bad = sum(a != b for a, b in zip(got, want))
        print(f"perfbench: {bad} GETs differ from the dict model", file=sys.stderr)
    timed = [r for r in out if r[0] == "timed"]
    failed = sum(r[4] < 0 for r in timed)
    lat = [(r[3] - r[2]) * 1000.0 for r in timed]

    if run.trace:
        _layers(run, service, out, groups)
    return run.result(
        units=len(timed) - failed, latencies_ms=lat, attempted=len(timed), failed=failed,
        correct=correct,
        detail={"ready_s": ready_s, "requests": len(timed), "rounds": rounds,
                "warm_round_s": _round_times(out, "warm"),
                "timed_round_s": _round_times(out, "timed")},
    )


def _round_times(out, phase) -> list[float]:
    """Seconds per round (a write plus the GETs and polls after it)."""
    rounds: list[float] = []
    for ph, kind, t0, t1, _, _ in out:
        if ph != phase:
            continue
        if kind in ("set", "delete") or not rounds:
            rounds.append(0.0)
        rounds[-1] += t1 - t0
    return [round(x, 4) for x in rounds]


def _layers(run, service, out, groups):
    sc = run.spark.sparkContext
    tr = run.tracer
    # client requests after /boot, in order, are API calls 0, 1, 2, ...
    kv_by_rid: dict[int, list] = {}
    for s in tr.spans:
        if s.name.startswith("kv."):
            kv_by_rid.setdefault(s.rid, []).append(s)
    self_ms = []
    for rid, (_, kind, t0, t1, _, _) in enumerate(out):
        req = tr.add(f"client.{kind}", t0, t1, rid=rid)
        if kind != "status":
            self_ms.append(self_time(req, kv_by_rid.get(rid, [])) * 1000.0)
    status_ms = [(t1 - t0) * 1000.0 for _, kind, t0, t1, _, _ in out if kind == "status"]
    exe = [s.dur * 1000.0 for s in tr.named("kv.execute")]
    qry = [s.dur * 1000.0 for s in tr.named("kv.query")]
    jobs_get = sum(len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups["get"])
    jobs_status = sum(len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups["status"])
    run.layers.update({
        "kv.execute_ms_p50": statistics.median(exe),
        "kv.query_ms_p50": statistics.median(qry),
        "kv.query_ms_p90": percentile(qry, 90),
        "kv.jobs_per_query": jobs_get / len(groups["get"]),
        "kv.log_rows_end": service.kv.log_df().count(),
        "api.self_ms_p50": statistics.median(self_ms),
        "api.status_ms_p50": statistics.median(status_ms),
        "api.status_jobs": jobs_status / max(1, len(groups["status"])),
    })
