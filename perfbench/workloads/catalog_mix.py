"""catalog_mix: a fixed, seeded order of catalog queries over the
committed sf0.01 tables.  Closed loop; unit = query (construct + noop
write), with ``release_tracked_caches()`` after each, as ``bench.py``
does.

Setup runs every query once through ``wire_spark.oracle`` (collect +
DuckDB oracle), a few queries at a time: that pass is both the
correctness check and the warm-up.  The timed window then runs a fixed
number of whole weighted passes, as many as ``--seconds`` holds at the
nominal pass time, one query at a time.  Latency samples are the wall
times of the Spark jobs the window ran (see README.md: a per-query p90
would need 101 queries, more than a run can hold).
"""

from __future__ import annotations

import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from common import group_job_ids, job_totals, last_execution_id, python_sql_metrics

from inputs import catalog_order

#: query -> repeats per timed pass: the near-dup graph family, where
#: construction-time jobs dominate, the applyInPandas GEMM, and
#: relational controls that bypass both.
WEIGHTS = {
    "dedup_components_star": 1,
    "graph_kcore_peel": 1,
    "dedup_minhash_lsh": 1,
    "dedup_embedding_cosine": 1,
    "q1_pricing_summary": 1,
    "q3_shipping_priority": 1,
    "text_quality_score": 1,
}
QUERIES = tuple(WEIGHTS)
CHECK_THREADS = 3
PASS_S = 11.0  # nominal warm pass time; sets how many passes --seconds holds

SF_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data", "sf0.01")


class _PrefetchedOracles:
    """A DuckDB connection whose ``execute`` serves oracle results run
    ahead of time on a background thread, so the DuckDB side of the
    check overlaps the Spark side.  ``sql`` (type binding only) goes to
    the real connection."""

    def __init__(self, con, sqls):
        self.con, self.results, self.errors = con, {}, {}
        self.lock = threading.Lock()
        cur = con.cursor()

        def work():
            for sql in sqls:
                try:
                    r = cur.execute(sql)
                    self.results[sql] = (r.description, r.fetchall())
                except Exception as e:  # noqa: BLE001 - re-raised by execute
                    self.errors[sql] = e
            cur.close()

        self.thread = threading.Thread(target=work, daemon=True)
        self.thread.start()

    def sql(self, text):
        with self.lock:  # one DuckDB connection, callers on several threads
            rel = self.con.sql(text)
            return _Bound(rel.columns, rel.types)

    def execute(self, text):
        self.thread.join()
        if text in self.errors:
            raise self.errors[text]
        desc, rows = self.results[text]
        return _Fetched(desc, rows)

    def close(self):
        self.thread.join()
        self.con.close()


class _Bound:
    def __init__(self, columns, types):
        self.columns, self.types = columns, types


class _Fetched:
    def __init__(self, description, rows):
        self.description, self._rows = description, rows

    def fetchall(self):
        return self._rows


def _held_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def run(run):
    spark = run.start_spark()
    sc = spark.sparkContext
    from wire_spark.catalog import load_registry
    from wire_spark.oracle import compare_query, duckdb_connection
    from wire_spark.queries._util import release_tracked_caches

    reg = load_registry()
    t_check = time.monotonic()
    con = _PrefetchedOracles(duckdb_connection(SF_DIR), [reg[n].oracle for n in QUERIES])

    def check(name):
        q = reg[name]
        return compare_query(spark, con, name, q.fn, q.oracle, SF_DIR)

    # concurrent Spark jobs from a few threads shorten the cold pass
    with ThreadPoolExecutor(CHECK_THREADS) as ex:
        results = list(ex.map(check, QUERIES))
    release_tracked_caches()
    con.close()
    bad = [str(r) for r in results if not r.ok]
    for b in bad:
        print(f"perfbench: oracle mismatch {b}", file=sys.stderr)

    check_s = time.monotonic() - t_check
    order = catalog_order(run.seed, WEIGHTS)
    exec0 = last_execution_id(spark) if run.trace else -1
    per_query: dict[str, list] = {n: [] for n in QUERIES}
    groups: list[tuple[str, str]] = []
    failed = attempted = 0
    n_passes = max(1, round(run.seconds / PASS_S))
    run.window_start()
    pass_s = []
    for _ in range(n_passes):
        t_pass = time.monotonic()
        for name in order:
            group = f"perfbench-{len(groups)}"
            groups.append((group, name))
            sc.setJobGroup(group, name)
            attempted += 1
            try:
                t = time.monotonic()
                df = reg[name].fn(spark, SF_DIR)
                tc = time.monotonic()
                df.write.format("noop").mode("overwrite").save()
                ta = time.monotonic()
                per_query[name].append((tc - t, ta - tc))
                sp = run.tracer.add("catalog.query", t, ta, rid=len(groups) - 1)
                if sp is not None:
                    run.tracer.add("queries.construct", t, tc, parent=sp.sid, rid=sp.rid)
                    run.tracer.add("operators.action", tc, ta, parent=sp.sid, rid=sp.rid)
            except Exception as e:  # noqa: BLE001 - a query exception is a failed unit
                print(f"perfbench: {name} failed: {e}", file=sys.stderr)
                failed += 1
            release_tracked_caches()
        pass_s.append(round(time.monotonic() - t_pass, 3))
    run.window_end()
    sc.setJobGroup("perfbench-after", "after")

    totals, job_ms, by_query, job_ms_by_query = None, [], {}, {}
    for group, name in groups:
        t = job_totals(sc, group_job_ids(sc, group), stages=run.trace)
        job_ms.extend(t.job_ms)
        job_ms_by_query.setdefault(name, []).extend(t.job_ms)
        by_query.setdefault(name, t)  # counts are per single run of the query
        if totals is None:
            totals = t
        else:
            for f in ("executor_cpu_s", "executor_gc_s", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes"):
                setattr(totals, f, getattr(totals, f) + getattr(t, f))

    if run.trace:
        py = python_sql_metrics(spark, exec0)
        for name, t in by_query.items():
            runs = per_query[name]
            if not runs:
                continue  # every run of it failed
            pre = f"catalog.{name}."
            run.layers.update({
                pre + "construct_s": sorted(r[0] for r in runs)[len(runs) // 2],
                pre + "action_s": sorted(r[1] for r in runs)[len(runs) // 2],
                pre + "jobs": t.jobs, pre + "stages": t.stages, pre + "tasks": t.tasks,
                pre + "executor_cpu_s": t.executor_cpu_s,
            })
        run.layers.update({
            "catalog.executor_gc_s": totals.executor_gc_s,
            "catalog.shuffle_read_bytes": totals.shuffle_read_bytes,
            "catalog.shuffle_write_bytes": totals.shuffle_write_bytes,
            "catalog.spill_bytes": totals.spill_bytes,
            "catalog.python_start_init_s": py["python_start_s"] + py["python_init_s"],
            "catalog.python_run_s": py["python_run_s"],
            "catalog.rdds_held_after_release": _held_rdds(spark),
        })
    return run.result(
        units=attempted - failed, latencies_ms=job_ms, attempted=attempted, failed=failed,
        correct=not bad,
        detail={"check_s": check_s, "pass_s": pass_s, "queries": attempted, "jobs": len(job_ms),
                "job_ms_by_query": job_ms_by_query,
                "per_query_s": {n: [round(a + b, 3) for a, b in r] for n, r in per_query.items()}},
    )
