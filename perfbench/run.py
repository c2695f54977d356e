"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 perfbench/run.py --workload cascade_plain --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout.  ``--trace 0`` prints the
end-to-end metrics of BENCHMARK.json; ``--trace 1`` enables the Spark
event log and the span wrappers and prints the per-layer metrics.  All
scratch data lives under ``.perfbench_work/`` in the checkout and is
removed on exit.  Spark's own output goes to stderr, so stdout carries
only the result line.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test size: every code path on a tiny input")
    return ap.parse_args(argv)


#: fixed, so the session does not size itself from the host
DRIVER_MEM = "2g"


def prepare_env(work: str) -> None:
    """Pin what would otherwise come from the environment: driver
    memory, the Python workers' import path (they start outside the
    checkout and must import grass_spark), and every scratch directory."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def main(argv=None) -> int:
    args = parse_args(argv)
    # stdout is reserved for the result line: point fd 1 (inherited by
    # the JVM) at stderr and keep a private copy for the result
    result_fd = os.dup(1)
    sys.stdout.flush()
    os.dup2(2, 1)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "grass_spark")) or not os.path.exists(spec_path):
        print(f"perfbench: {ROOT} is not a grass_spark source checkout", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        from perfbench.workloads import Run

        run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, tiny=args.tiny)
        run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(os.path.dirname(work))

    values = run.layers if args.trace else run.end_to_end()
    metrics, missing = {}, []
    for m in wanted:
        if m["name"] in values:
            metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        elif args.trace:
            # a layer this workload does not exercise, or a span a later
            # change removed: reported as 0 and named on stderr
            missing.append(m["name"])
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            missing.append(m["name"])
    for span, reason in run.tracer.absent.items():
        print(f"perfbench: span {span} absent: {reason}", file=sys.stderr)
    if missing:
        print(f"perfbench: absent metrics (not exercised by {args.workload}): "
              f"{', '.join(missing)}", file=sys.stderr)
    if not args.trace and missing:
        print("perfbench: no timed operation completed", file=sys.stderr)
        return 1
    line = json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    })
    os.write(result_fd, (line + "\n").encode())
    os.close(result_fd)
    return 0


if __name__ == "__main__":
    sys.exit(main())
