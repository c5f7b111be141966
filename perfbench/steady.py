"""Steadiness check: run every workload on several seeds and report
each metric's median and quartile spread, as a share of the median.

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b] [--trace 0] \
        [--out perfbench/results/set1.md]
    python3 perfbench/steady.py --compare perfbench/results/set1.json perfbench/results/set2.json

Runs are sequential, so they do not contend with each other.  The
table gives per workload and metric the median, the first and third
quartiles (``statistics.quantiles(n=4)``) and ``(q3 - q1) / median``
beside the metric's bound from BENCHMARK.json, then every run; the raw
values go to a ``.json`` file beside ``--out``.  ``--compare`` checks
two such sets against each other: each spread within its bound (except
``setup_s``) and the second median no worse than the first by more
than the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in text.split(",")]


def run_once(spec, workload: str, seed: int, trace: int) -> tuple[dict, float]:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(lines[-1]), wall


def spread(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default="")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = ap.parse_args(argv)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.compare:
        compare(spec, *args.compare)
        return
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    seeds = seeds_arg(args.seeds)

    rows, summary = [], []
    for w in workloads:
        per_metric: dict[str, list[float]] = {}
        for s in seeds:
            res, wall = run_once(spec, w, s, args.trace)
            vals = {k: v["value"] for k, v in res["metrics"].items()}
            rows.append((w, s, wall, res["correct"], vals))
            for k, v in vals.items():
                per_metric.setdefault(k, []).append(v)
            print(f"{w} seed={s} wall={wall:.1f}s correct={res['correct']} "
                  + " ".join(f"{k}={v:.6g}" for k, v in vals.items()), flush=True)
        for k, vs in per_metric.items():
            summary.append((w, k, *spread(vs), bounds.get(k)))

    out = [f"# Steadiness: seeds {args.seeds}, trace {args.trace}, "
           f"run_seconds {spec['run_seconds']}, {os.cpu_count()} cores\n",
           "| workload | metric | median | q1 | q3 | spread | bound |",
           "|---|---|---|---|---|---|---|"]
    for w, k, med, q1, q3, sp, b in summary:
        out.append(f"| {w} | {k} | {med:.6g} | {q1:.6g} | {q3:.6g} | {sp:.4f} | {b if b is not None else ''} |")
    out += ["", "## Runs", "", "| workload | seed | wall s | correct | metrics |", "|---|---|---|---|---|"]
    for w, s, wall, ok, vals in rows:
        out.append(f"| {w} | {s} | {wall:.1f} | {ok} | "
                   + ", ".join(f"{k}={v:.6g}" for k, v in vals.items()) + " |")
    text = "\n".join(out) + "\n"
    print(text)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
        with open(os.path.splitext(args.out)[0] + ".json", "w") as f:
            json.dump([{"workload": w, "seed": s, "wall_s": wall, "correct": ok, "metrics": vals}
                       for w, s, wall, ok, vals in rows], f, indent=1)


def compare(spec, first: str, second: str) -> None:
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    sets = []
    for path in (first, second):
        by: dict[tuple[str, str], list[float]] = {}
        for r in json.load(open(path)):
            for k, v in r["metrics"].items():
                by.setdefault((r["workload"], k), []).append(v)
        sets.append(by)
    print("| workload | metric | median 1 | spread 1 | median 2 | spread 2 | change | bound | ok |")
    print("|---|---|---|---|---|---|---|---|---|")
    all_ok = True
    for key in sorted(sets[0].keys() & sets[1].keys()):
        w, k = key
        m = metrics[k]
        med1, _, _, sp1 = spread(sets[0][key])
        med2, _, _, sp2 = spread(sets[1][key])
        worse = (med2 - med1) / med1 if m["better"] == "lower" else (med1 - med2) / med1
        ok = worse <= m["bound"] and (k == "setup_s" or max(sp1, sp2) <= m["bound"])
        all_ok &= ok
        print(f"| {w} | {k} | {med1:.6g} | {sp1:.4f} | {med2:.6g} | {sp2:.4f} | "
              f"{worse:+.4f} | {m['bound']} | {'yes' if ok else 'NO'} |")
    print(f"\nall within bounds: {all_ok}")


if __name__ == "__main__":
    main()
