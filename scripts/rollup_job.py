"""spark-submit entry point for the tier rollup pipeline.

Cluster usage (the north rule's packaging):

    zip -r grass_spark.zip grass_spark
    spark-submit --py-files grass_spark.zip scripts/rollup_job.py \
        --input  s3://bucket/transcripts \
        --output s3://bucket/tiers \
        --fingerprint <source snapshot id> [--incremental]

Local smoke:

    python scripts/rollup_job.py --synth 1000 --output /tmp/tiers_demo

The same code runs unchanged on local[N] and on a 1000-executor
cluster: only spark.master differs (supplied by spark-submit).  On a
real cluster the input would be an Iceberg table
(`spark.read.table(...)`) and the fingerprint its snapshot id.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _parse_buckets(s: str):
    if "=" in s:
        return {k: int(v) for k, v in (p.split("=") for p in s.split(","))}
    return int(s)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet/Iceberg path of raw transcripts")
    ap.add_argument("--output", required=True, help="tier base directory")
    ap.add_argument("--fingerprint", default="", help="input snapshot id")
    ap.add_argument("--incremental", action="store_true",
                    help="content-based resume for appended data")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--synth", type=int, default=0,
                    help="generate N synthetic conversations instead of --input")
    ap.add_argument("--layout", choices=("plain", "bucketed"), default="plain",
                    help="tier storage layout; 'bucketed' writes the "
                         "composed partitionBy(d)+bucketBy(buckets, "
                         "conv_id) layout NATIVELY — per-conversation "
                         "aggs/windows/joins over the tiers plan with "
                         "zero Exchange (PLANS.md 'Bucketed tier "
                         "storage'); resume/incremental work unchanged")
    ap.add_argument("--buckets", type=_parse_buckets, default=64,
                    help="bucket count for --layout bucketed (fixed at "
                         "first write; size for ~128-512 MB per bucket "
                         "at target scale).  Either one int or a "
                         "per-tier spec 't1m=256,t1h=64,t1d=16' — upper "
                         "tiers hold ~1/60th the rows and want smaller "
                         "counts (see BASELINE.md write-cost table)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from grass_spark.operators.rollup import RollupPipeline

    # under spark-submit the builder inherits master/conf from the
    # launcher; standalone it falls back to local[*]
    spark = (
        SparkSession.builder.appName("transcript_rollup")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    if args.synth:
        from grass_spark.datagen import synth_transcripts

        raw = synth_transcripts(spark, n_convs=args.synth)
    elif args.input:
        raw = spark.read.parquet(args.input)
    else:
        ap.error("need --input or --synth")

    pipe = RollupPipeline(args.output, layout=args.layout, buckets=args.buckets)
    results = pipe.run(
        raw,
        input_fingerprint=args.fingerprint,
        resume=not args.no_resume,
        incremental=args.incremental,
    )
    print(json.dumps([
        {"tier": r.name, "granularity": r.granularity, "rows": r.rows_out,
         "days": len(r.days_written), "sec": round(r.duration_s, 2)}
        for r in results
    ]))
    spark.stop()


if __name__ == "__main__":
    main()
