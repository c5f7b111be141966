"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload etl_replay --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ones.  The runner pins its own environment (CPU count,
driver heap, Spark scratch directory, import path for Python workers)
before Spark starts, so the program under test sees only the staged
inputs.  It exits non-zero, without a result line, when the program
is missing, and with ``"correct": false`` when an output is wrong.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_replay", "windowed_live", "kv_api", "catalog_mix")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", default="nproc", help="local[N] cores; 'nproc' = all")
    ap.add_argument("--driver-mem", default="3g")
    return ap.parse_args(argv)


def pin_environment(args) -> None:
    """Everything Spark and its Python workers read from the
    environment, set before the JVM starts."""
    cpus = str(os.cpu_count()) if args.cpus == "nproc" else args.cpus
    local_dirs = os.path.join(ROOT, ".perfbench", "spark-local")
    tmp = os.path.join(ROOT, ".perfbench", "tmp")
    os.makedirs(local_dirs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM=args.driver_mem,
        SPARK_LOCAL_DIRS=local_dirs,
        # temporary files stay in the checkout too (no JVM perf-data file)
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=ROOT,  # Python workers import wire_spark from here
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "wire_spark", "__init__.py")):
        print(f"perfbench: no wire_spark package under {ROOT}", file=sys.stderr)
        return 2
    pin_environment(args)
    sys.path.insert(0, HERE)
    import workloads  # noqa: PLC0415 - after the environment is pinned

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        res = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), work, T_PROCESS)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
