"""Ad-hoc per-query measurement harness (guide §1.4) — NOT the frozen
driver bench.  Times named driver queries through the noop sink on one
shared session, cold (first build+run, what TIER2 sees) and warm
(min-of-N re-runs, what HEADLINE sees), and optionally dumps
``explain("formatted")`` to plans/r06/<name>_<tag>.txt.

Usage:
  python bench_extra.py [--sf DIR] [--warm N] [--plans TAG] q1 q2 ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from grass_spark.queries import QUERIES  # noqa: E402
from grass_spark.session import get_spark  # noqa: E402


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--warm", type=int, default=2,
                    help="timed warm repeats after the cold run")
    ap.add_argument("--plans", default=None,
                    help="dump explain(formatted) to plans/r06/<q>_<TAG>.txt")
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench_extra", cores=cores,
                      shuffle_partitions=max(cores, 8))
    out: dict = {}
    for name in args.queries:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        t0 = time.perf_counter()
        df = fn(spark, args.sf)
        build = time.perf_counter() - t0
        if args.plans:
            import io
            from contextlib import redirect_stdout

            os.makedirs("plans/r06", exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(f"plans/r06/{name}_{args.plans}.txt", "w") as f:
                f.write(buf.getvalue())
        t0 = time.perf_counter()
        _noop(df)
        cold = time.perf_counter() - t0
        warms = []
        for _ in range(args.warm):
            t0 = time.perf_counter()
            _noop(fn(spark, args.sf))
            warms.append(time.perf_counter() - t0)
        out[name] = {
            "build": round(build, 3),
            "cold": round(cold, 3),
            "warm_min": round(min(warms), 3) if warms else None,
            "warms": [round(w, 3) for w in warms],
        }
        print(f"{name}: build={build:.2f} cold={cold:.2f} "
              f"warm_min={min(warms) if warms else float('nan'):.2f}",
              flush=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
