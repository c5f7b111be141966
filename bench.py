"""Per-query profiler for the catalog.

    python bench.py [NAME ...]

profiles each named query (every ``bench=True`` query when no name is
given) over the tables in ``wire_spark.engine.DEFAULT_SF_DIR`` (set
by $SPARK_GRAFT_SF_DIR) on local[$SPARK_GRAFT_CPUS].  The records go
to BENCH_DETAIL.json, and one JSON summary line is printed.

Wall time alone says little on a shared host, so each record carries
the layers the host does not distort, read from Spark's status stores
with the fixed benchmark's own readers (``perfbench/common.py``): jobs,
stages, tasks, executor CPU and GC, shuffle and spill bytes, and the
Python-worker time and Arrow bytes.  Each query is forced end-to-end
with a noop-format write.
"""

from __future__ import annotations

import json
import os
import sys
import time
from dataclasses import asdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.common import (  # noqa: E402
    group_job_ids,
    job_totals,
    last_execution_id,
    python_sql_metrics,
)
from wire_spark.catalog import load_registry  # noqa: E402
from wire_spark.engine import DEFAULT_SF_DIR, get_spark  # noqa: E402
from wire_spark.plans import formatted_plan, operator_counts  # noqa: E402
from wire_spark.queries._util import release_tracked_caches  # noqa: E402

DETAIL_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")


def _drain(sc) -> None:
    """Wait until the status stores have seen every event so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def profile(spark, name: str, sf_dir: str) -> dict:
    """One warm run, then one measured run of catalog query ``name``
    under the job group ``bench:<name>``; tracked caches are released
    after each.  Returns the measured run's record:

    - ``construct_s`` / ``action_s``: building the DataFrame vs the
      noop write; ``construct_jobs``: jobs run while building it;
    - the ``JobTotals`` fields (``job_ms`` is per job, in order);
    - Python-worker start/init/run seconds and Arrow bytes each way;
    - ``operators``: operator name -> count in the returned
      DataFrame's formatted plan.
    """
    fn = load_registry()[name].fn
    sc = spark.sparkContext
    try:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        release_tracked_caches()

    group = f"bench:{name}"
    exec0 = last_execution_id(spark)
    sc.setJobGroup(group, name)
    try:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        _drain(sc)
        construct_jobs = len(group_job_ids(sc, group))
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        operators = operator_counts(formatted_plan(df))
    finally:
        sc._jsc.clearJobGroup()
        release_tracked_caches()
    _drain(sc)
    return {
        "construct_s": round(t1 - t0, 4),
        "action_s": round(t3 - t2, 4),
        "construct_jobs": construct_jobs,
        **asdict(job_totals(sc, group_job_ids(sc, group))),
        **python_sql_metrics(spark, exec0),
        "operators": dict(sorted(operators.items())),
    }


def main(names: list[str] | None = None) -> None:
    names = sys.argv[1:] if names is None else names
    registry = load_registry()
    if not names:
        names = sorted(n for n, q in registry.items() if q.bench)
    spark = get_spark("wire-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    records: dict[str, dict] = {}
    for name in names:
        try:
            records[name] = profile(spark, name, DEFAULT_SF_DIR)
        except Exception as e:  # keep profiling; report the failure
            records[name] = {"error": str(e)}
            print(f"BENCH ERROR {name}: {e}", file=sys.stderr)
    spark.stop()

    ok = [r for r in records.values() if "error" not in r]
    summary = {
        "sf_dir": DEFAULT_SF_DIR,
        "n_queries": len(records),
        "n_errors": len(records) - len(ok),
        **{k: round(sum(r[k] for r in ok), 3)
           for k in ("construct_s", "action_s", "jobs", "executor_cpu_s",
                     "shuffle_write_bytes")},
        "detail_file": os.path.basename(DETAIL_FILE),
    }
    with open(DETAIL_FILE, "w") as f:
        json.dump({"summary": summary, "queries": records}, f, indent=1, sort_keys=True)
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
