"""Shared measurement helpers: percentiles, spans, the process tree
under test, and Spark's own status counters.

Nothing here imports pyspark at module level, so the helpers can be
unit-tested without a JVM.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

#: A percentile must have at least this many samples above it.
MIN_BEYOND = 10


class TooFewSamples(ValueError):
    """The sample cannot support the requested percentile."""


def percentile(values, p: float, min_beyond: int = MIN_BEYOND) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of ``values``.

    Refuses (``TooFewSamples``) when fewer than ``min_beyond`` samples
    lie strictly above the interpolation point, so a reported p90
    always rests on at least ten observations beyond it.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise TooFewSamples(f"p{p}: no samples")
    pos = (n - 1) * p / 100.0
    lo = math.floor(pos)
    beyond = n - 1 - lo
    if beyond < min_beyond:
        raise TooFewSamples(f"p{p}: {beyond} samples beyond it of {n}, need {min_beyond}")
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# -- spans -----------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None = None
    rid: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_time(span: Span, children) -> float:
    """``span``'s duration minus the part of it its children cover.

    Children are clipped to the parent's interval and overlapping
    children are merged, so concurrent children are not subtracted
    twice.
    """
    iv = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.dur - covered


@dataclass
class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing.

    Times are ``time.monotonic()`` seconds (CLOCK_MONOTONIC), which is
    one clock for every process on the host, so a load generator's
    request spans and the server's child spans share a time base.
    """

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    busy_s: float = 0.0  # time spent inside the tracer's own bookkeeping

    def add(self, name, start, end, parent=None, rid=None) -> Span | None:
        if not self.enabled:
            return None
        t0 = time.monotonic()
        sp = Span(len(self.spans), name, start, end, parent, rid)
        self.spans.append(sp)
        self.busy_s += time.monotonic() - t0
        return sp

    def wrap(self, name, fn, rid_fn=None, before=None):
        """``fn`` wrapped in a span; ``before(rid)`` runs inside it."""
        tracer = self

        def wrapped(*a, **kw):
            t0 = time.monotonic()
            rid = rid_fn() if rid_fn else None
            if before is not None:
                before(rid)
            tracer.busy_s += time.monotonic() - t0
            start = time.monotonic()
            try:
                return fn(*a, **kw)
            finally:
                tracer.add(name, start, time.monotonic(), rid=rid)

        return wrapped

    def named(self, name) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# -- the process tree under test -------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        ppid = int(raw[raw.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


class ProcTree:
    """The driver process, the JVM it launched and the Python workers
    below it; ``exclude`` roots (the load generator) are left out."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self.exclude: set[int] = set()

    def pids(self) -> list[int]:
        kids = _children_map()
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            if p in self.exclude:
                continue
            out.append(p)
            todo.extend(kids.get(p, ()))
        return out

    def cpu_s(self) -> float:
        """User+system CPU of the live tree, reaped children included."""
        tot = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            fs = raw[raw.rindex(")") + 2 :].split()
            tot += sum(int(x) for x in fs[11:15])  # utime stime cutime cstime
        return tot / _TICK

    def peak_rss_mb(self) -> float:
        """Sum over the tree of each process's peak resident set."""
        kb = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return kb / 1024.0


# -- Spark's own counters ---------------------------------------------


def _opt_ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


@dataclass
class JobTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    executor_gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_ms: list = field(default_factory=list)


def group_job_ids(sc, group: str) -> list[int]:
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def job_totals(sc, job_ids, stages: bool = True) -> JobTotals:
    """Jobs, stages actually run, tasks, executor CPU/GC, shuffle and
    spill bytes, and each job's wall time, from the app status store.
    ``stages=False`` reads only the jobs' wall times."""
    store = sc._jsc.sc().statusStore()
    out = JobTotals()
    seen: set[int] = set()
    for jid in job_ids:
        jd = store.job(jid)
        out.jobs += 1
        s, e = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        if s is not None and e is not None:
            out.job_ms.append(e - s)
        if not stages:
            continue
        ids = jd.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted or never ran
                continue
            if str(st.status()) != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out.stages += 1
            out.tasks += st.numTasks()
            out.executor_cpu_s += st.executorCpuTime() / 1e9
            out.executor_gc_s += st.jvmGcTime() / 1e3
            out.shuffle_read_bytes += st.shuffleReadBytes()
            out.shuffle_write_bytes += st.shuffleWriteBytes()
            out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _parse_metric_total(text: str) -> float:
    """First value of a formatted SQL metric ("total (min, med, max)\\n
    3.2 s (...)" or "12.0 KiB"), in bytes or seconds."""
    line = text.split("\n")[-1].strip() if "\n" in text else text.strip()
    tok = line.split()
    try:
        val = float(tok[0].replace(",", ""))
    except (IndexError, ValueError):
        return 0.0
    unit = tok[1] if len(tok) > 1 else ""
    return val * _UNITS.get(unit, 1.0)


PYTHON_METRICS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "arrow_bytes_to_python",
    "data returned from Python workers": "arrow_bytes_from_python",
}


def python_sql_metrics(spark, since_execution: int = -1) -> dict[str, float]:
    """Sum of the Python-node SQL metrics over SQL executions with id
    greater than ``since_execution``, from Spark's SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = {v: 0.0 for v in PYTHON_METRICS.values()}
    for i in range(execs.size()):
        ex = execs.apply(i)
        if ex.executionId() <= since_execution:
            continue
        wanted = {}
        ms = ex.metrics()
        for j in range(ms.size()):
            m = ms.apply(j)
            if m.name() in PYTHON_METRICS:
                wanted[m.accumulatorId()] = PYTHON_METRICS[m.name()]
        if not wanted:
            continue
        vals = store.executionMetrics(ex.executionId())
        for acc, key in wanted.items():
            text = vals.get(acc)
            if text is not None and not hasattr(text, "isDefined"):
                out[key] += _parse_metric_total(str(text))
            elif text is not None and text.isDefined():
                out[key] += _parse_metric_total(str(text.get()))
    return out


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)


def progress_phase_p50(progress: list[dict], phase: str) -> float:
    vals = [p["durationMs"].get(phase, 0) for p in progress if "durationMs" in p]
    return statistics.median(vals) if vals else 0.0


# -- result assembly ---------------------------------------------------

#: End-to-end metrics and their units, as BENCHMARK.json lists them.
E2E_UNITS = {
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "cpu_ms_per_unit": "ms",
    "peak_rss_mb": "MB",
    "setup_s": "s",
    "success_ratio": "ratio",
}


def metric_block(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}
