"""Warm-up and mode-boundary check.

    python3 perfbench/modecheck.py [--seed 1] [--scale 3] \
        [--out perfbench/results/warmup_modes.md]

Runs each workload once with ``--seconds`` ``scale`` times the
benchmark's own, then prints, from the run's ``# detail`` line:

- the per-pass (or per-round) time from the first warm-up pass on,
  to show where the rate levels off relative to where the timed
  window starts;
- a log-scale histogram of the latency samples, with the ranks of the
  largest gaps between neighbouring samples (mode boundaries) and the
  distance of the p50 and p90 ranks from them.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_detail(spec, workload: str, seed: int, seconds: float) -> dict:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"{workload}: exit {p.returncode}\n{p.stderr[-2000:]}")
    line = next(ln for ln in p.stdout.splitlines() if ln.startswith("# detail "))
    return json.loads(line[len("# detail "):])


def curve(workload: str, d: dict) -> list[str]:
    if workload == "etl_replay":
        steps = [("check", d["check_pass_s"])] + [("timed", x) for x in d["pass_s"]]
        unit = "s/pass"
    elif workload == "kv_api":
        steps = [("warm", x) for x in d["warm_round_s"]] + [("timed", x) for x in d["timed_round_s"]]
        unit = "s/round"
    else:
        steps = [("check", d["check_s"])] + [("timed", x) for x in d["pass_s"]]
        unit = "s/pass"
    return [f"| {i} | {ph} | {v:.3f} |" for i, (ph, v) in enumerate(steps)], unit


def modes(samples: list[float], bins: int = 24) -> list[str]:
    xs = sorted(x for x in samples if x > 0)
    n = len(xs)
    lo, hi = math.log10(xs[0]), math.log10(xs[-1])
    width = (hi - lo) / bins or 1.0
    counts = [0] * bins
    for x in xs:
        counts[min(bins - 1, int((math.log10(x) - lo) / width))] += 1
    top = max(counts)
    out = ["```"]
    for i, c in enumerate(counts):
        edge = 10 ** (lo + i * width)
        out.append(f"{edge:10.2f} ms | {'#' * round(40 * c / top):40s} {c}")
    out.append("```")
    gaps = sorted(((xs[i + 1] / xs[i], i + 1) for i in range(n - 1)), reverse=True)[:2]
    for ratio, rank in gaps:
        pct = 100.0 * rank / n
        out.append(f"- gap x{ratio:.2f} between {xs[rank - 1]:.2f} and {xs[rank]:.2f} ms "
                   f"at rank {pct:.1f}%: p50 is {abs(50 - pct):.1f} points away, "
                   f"p90 {abs(90 - pct):.1f} points away")
    return out


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--scale", type=float, default=3.0)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    args = ap.parse_args(argv)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"] * args.scale
    text = [f"# Warm-up and mode-boundary check (seed {args.seed}, --seconds {seconds:g}, "
            f"{os.cpu_count()} cores)", ""]
    for w in names:
        d = run_detail(spec, w, args.seed, seconds)
        rows, unit = curve(w, d)
        # etl_replay's row latencies are its batch durations, one per batch
        samples = d.get("samples_ms") or d["batch_ms"]
        text += [f"## {w}", "", f"| step | phase | {unit} |", "|---|---|---|", *rows, "",
                 f"Latency samples: {len(samples)}", "", *modes(samples), ""]
        print("\n".join(text), flush=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write("\n".join(text) + "\n")


if __name__ == "__main__":
    main()
