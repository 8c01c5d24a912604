"""Benchmark entry point.

    python3 perfbench/run.py --workload fsimage_ingest --seed 1 --seconds 5 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench_work/`` (deleted at the start and end of every run); the
traced run's span file goes to ``.perfbench_out/``. The last line of
standard output is the JSON result; lines before it start with ``#``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

WORKLOADS = ("fsimage_ingest", "report_mix")


def _environment(root: str, work: str) -> int:
    """Everything the engine needs is set through the environment before
    the JVM starts: core count, memory, scratch dirs, no console progress
    bar. Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])
    return cpus


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a TERM still runs the clean-up below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "hfsa_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the repository root (hfsa_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work")
    out_dir = os.path.join(root, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    cpus = _environment(root, work)
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} cores={cpus} master=local[{cpus}]")

    import workloads

    try:
        result = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
